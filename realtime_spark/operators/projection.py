"""Output shaping: projection, privilege masks, TOAST merge, error rows.

Reference behaviors (SURVEY §2.2 P8-P13, §2.4 A2/A4/A5, §4 O5):
  - P12 unchanged-TOAST merge: wal2json omits unchanged toasted values from
    `columns`; the output record takes the old value for keys missing from the
    new tuple (reference: migrations/20260626120000:586-604). Implemented with
    key-presence semantics (a key PRESENT with NULL value is NOT overwritten).
  - P9 selected_columns projection: record keeps selected ∪ primary-key
    columns; one output group per distinct (role, selected_columns)
    (reference: migrations/20260626120000:540-659, pk always kept 578,602,618).
  - P8 column-level security: per-role allowed-column sets mask the record and
    the column metadata (reference: migrations/20260626120000:420-447,570-579).
  - P13 DELETE old_record is pk-only under RLS
    (reference: migrations/20260626120000:622-634).
  - P10 oversize clamp: when the serialized change exceeds max_record_bytes,
    only values <= 64 bytes survive and `Error 413: Payload Too Large` is
    attached (reference: migrations/20260626120000:354,603,654-657).
  - P11 error rows: no primary key -> `Error 400: Bad Request, no primary key`;
    role without pk SELECT privilege -> `Error 401: Unauthorized`
    (reference: migrations/20260626120000:449-488).
  - O5/A2: expensive work is grouped per (claims_role, selected_columns) and
    subscription ids are collected per group (A5).

All pure map/array expressions, no UDFs. The higher-order functions
(`transform`, `filter`, `map_filter`, `exists`) are CodegenFallback
expressions: they are evaluated interpreted inside the generated stage,
with no Python worker. The input is the match-set frame of
cdc.matched_pairs (one row per change with its array of matched
subscriptions, also after apply_rls_policies): the groups form within each
change's row with no shuffle at all, and the column privileges are a
literal map looked up per group, with no join.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_spark.functions.scalar import context_memo, iso_ms
from realtime_spark.session import local_frame

MAX_RECORD_BYTES = 1_048_576  # reference: db_settings.ex:10
ERR_413 = "Error 413: Payload Too Large"
ERR_400 = "Error 400: Bad Request, no primary key"
ERR_401 = "Error 401: Unauthorized"
_SALVAGE_VALUE_BYTES = 64  # reference: migrations/20260626120000:354


def toast_merge(record: Column, old_record: Column) -> Column:
    """P12: keys absent from the new tuple are filled from the old tuple.
    Key-presence (not value-nullness) decides, matching the FULL OUTER JOIN on
    column name in the reference."""
    new_keys = F.map_keys(record)
    # coalesce: map_concat null-propagates, so an UPDATE with NULL
    # old_record (e.g. replica identity NOTHING) would null the ENTIRE
    # merged record instead of passing the new tuple through
    safe_old = F.coalesce(old_record, F.map_from_arrays(F.array(), F.array()))
    only_old = F.map_filter(safe_old, lambda k, v: ~F.array_contains(new_keys, k))
    return F.map_concat(record, only_old)


def record_text(m: Column) -> Column:
    """Canonical text form of a record map for hashing/golden comparison:
    entries sorted by key, `k=v` joined with `|`."""
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(m)),
            lambda e: F.concat(e["key"], F.lit("="), F.coalesce(e["value"], F.lit("<null>"))),
        ),
        "|",
    )


def privileges_df(spark, grants: Mapping[tuple[str, str, str], Sequence[str]]) -> DataFrame:
    """(role, schema, table) -> allowed column names, as a dim held in the
    JVM. The frame carries its rows, so project_output reads the grants
    without a Spark job."""
    rows = [
        {"claims_role": r, "schema_name": s, "table_name": t, "allowed_columns": list(cols)}
        for (r, s, t), cols in grants.items()
    ]
    df = local_frame(
        spark,
        rows,
        "claims_role string, schema_name string, table_name string, "
        "allowed_columns array<string>",
    )
    df._rs_grant_rows = rows  # read by _grants without a job
    return df


def _grants(privileges: DataFrame) -> tuple:
    """The grants of a privileges frame as a sorted tuple of ((role,
    schema, table), allowed columns), read once per frame (privileges_df
    carries its rows, any other frame is collected once) and kept on it.
    Several rows for one key grant the union of their columns; a key with
    a NULL part never equals a group's key and is dropped."""
    memo = getattr(privileges, "_rs_grants", None)
    if memo is None:
        rows = getattr(privileges, "_rs_grant_rows", None)
        if rows is None:
            rows = [r.asDict() for r in privileges.collect()]
        merged: dict[tuple[str, str, str], list[str]] = {}
        for r in rows:
            key = (r["claims_role"], r["schema_name"], r["table_name"])
            if None not in key:
                cols = merged.setdefault(key, [])
                cols.extend(c for c in r["allowed_columns"] or () if c not in cols)
        memo = tuple(sorted((k, tuple(v)) for k, v in merged.items()))
        privileges._rs_grants = memo
    return memo


def _grant_key(role: Column, schema: Column, table: Column) -> Column:
    return F.named_struct(
        F.lit("claims_role"), role, F.lit("schema_name"), schema,
        F.lit("table_name"), table,
    )


def _allowed_columns(grants: tuple | None, role: Column) -> Column:
    """The group's column whitelist: NULL when privileges are not checked;
    else the grants of (role, the change's schema, table) looked up in a
    literal map, failing CLOSED — a role with no grants row gets an EMPTY
    whitelist (masked to nothing + Error 401 via pk_unreadable)."""
    if grants is None:
        return F.lit(None).cast("array<string>")
    empty = F.array().cast("array<string>")
    if not grants:
        return empty
    table = F.create_map(*[
        x
        for (r, s, t), cols in grants
        for x in (
            _grant_key(F.lit(r), F.lit(s), F.lit(t)),
            F.array(*[F.lit(c) for c in cols]).cast("array<string>"),
        )
    ])
    key = _grant_key(role, F.col("c.schema_name"), F.col("c.table_name"))
    return F.coalesce(F.try_element_at(table, key), empty)


def _projection_columns(
    grants: tuple | None, max_record_bytes: int, rls_enabled: bool
) -> tuple[Column, list[Column]]:
    """(the array of a change's groups, the output select list over the
    change `c` and one exploded group `g`).

    One group per distinct (claims_role, selected_columns) of the matched
    subscriptions, with its column whitelist and sorted id set, computed
    within the row with ZERO shuffle (the reference's per-role /
    per-selection loop, migrations/20260626120000:413-417,541-545)."""
    def ids(g: Column) -> Column:
        return F.sort_array(
            F.array_distinct(
                F.transform(
                    F.filter(
                        F.col("subs"),
                        lambda s: s["claims_role"].eqNullSafe(g["claims_role"])
                        & s["selected_columns"].eqNullSafe(g["selected_columns"]),
                    ),
                    lambda s: s["subscription_id"],
                )
            )
        )

    keys = F.array_distinct(
        F.transform(
            F.col("subs"),
            lambda s: F.struct(
                s["claims_role"].alias("claims_role"),
                s["selected_columns"].alias("selected_columns"),
            ),
        )
    )
    pk = F.col("c.pk")
    groups = F.transform(
        keys,
        lambda g: F.struct(
            g["claims_role"].alias("claims_role"),
            g["selected_columns"].alias("selected_columns"),
            _allowed_columns(grants, g["claims_role"]).alias("allowed_columns"),
            # selected ∪ pk (P9); NULL selection keeps everything
            F.when(
                g["selected_columns"].isNotNull(),
                F.array_union(g["selected_columns"], F.coalesce(pk, F.array())),
            ).alias("keep"),
            ids(g).alias("subscription_ids"),
        ),
    )

    action = F.col("c.action")
    allowed = F.col("g.allowed_columns")
    keep = F.col("g.keep")

    def visible(k: Column) -> Column:
        # NULL whitelist = keep all; a NULL array_contains drops the key
        return (keep.isNull() | F.array_contains(keep, k)) & (
            allowed.isNull() | F.array_contains(allowed, k)
        )

    oversize = F.coalesce(F.col("c.record_bytes") > F.lit(max_record_bytes), F.lit(False))

    def shipped(m: Column, kept) -> Column:
        """`m` masked to the keys `kept` admits, and clamped when the
        change is oversize: only values of at most 64 bytes survive. NULL
        values survive the clamp (octet_length(NULL) is NULL; pg's jsonb
        null is a 4-byte value and is kept). One map_filter, so `m`
        appears once in the tree."""
        return F.map_filter(
            m,
            lambda k, v: kept(k)
            & (~oversize | v.isNull() | (F.octet_length(v) <= _SALVAGE_VALUE_BYTES)),
        )

    merged = F.when(
        action == "UPDATE", toast_merge(F.col("c.record"), F.col("c.old_record"))
    ).otherwise(F.col("c.record"))
    record_out = F.when(action != "DELETE", shipped(merged, visible))
    old_out = F.when(
        action == "DELETE",
        # a pk-less table under RLS ships NOTHING of the old row (a
        # NULL-whitelist keep-all would leak every column alongside the
        # Error 400)
        shipped(F.col("c.old_record"), lambda k: F.array_contains(F.coalesce(pk, F.array()), k))
        if rls_enabled
        else shipped(F.col("c.old_record"), visible),
    ).when(action == "UPDATE", shipped(F.col("c.old_record"), visible))

    no_pk = pk.isNull() | (F.size(pk) == 0)
    pk_unreadable = F.when(
        allowed.isNotNull() & ~no_pk,
        F.exists(pk, lambda c: ~F.array_contains(allowed, c)),
    ).otherwise(F.lit(False))

    errors = F.filter(
        F.array(
            F.when(oversize, F.lit(ERR_413)),
            F.when(no_pk, F.lit(ERR_400)),
            F.when(pk_unreadable, F.lit(ERR_401)),
        ),
        lambda e: e.isNotNull(),
    )

    # column metadata (A4/W5): wire order, masked to visible columns
    visible_meta = F.filter(
        F.transform(
            F.col("c.col_names"),
            lambda n: F.struct(
                n.alias("name"), F.try_element_at(F.col("c.col_types"), n).alias("type")
            ),
        ),
        lambda s: visible(s["name"]),
    )

    return groups, [
        F.col("c.change_id").alias("change_id"),
        F.col("c.schema_name").alias("schema_name"),
        F.col("c.table_name").alias("table_name"),
        action.alias("type"),
        iso_ms(F.col("c.commit_timestamp")).alias("commit_timestamp"),
        visible_meta.alias("columns"),
        record_out.alias("record"),
        old_out.alias("old_record"),
        F.when(F.size(errors) > 0, errors).alias("errors"),
        F.col("g.claims_role").alias("claims_role"),
        F.col("g.selected_columns").alias("selected_columns"),
        F.col("g.subscription_ids").alias("subscription_ids"),
    ]


# (max_record_bytes, rls_enabled) -> (SparkContext, _projection_columns)
# without privileges; a privileges frame keeps its own (`_rs_projection`)
_UNCHECKED_MEMO: dict = {}


def project_output(
    sets: DataFrame,
    privileges: DataFrame | None = None,
    max_record_bytes: int = MAX_RECORD_BYTES,
    rls_enabled: bool = False,
) -> DataFrame:
    """cdc.matched_pairs match sets -> final CDC output rows.

    One output row per (change, claims_role, selected_columns) group with the
    group's visible subscription ids — the reference's per-role/per-selection
    loop hoisting (O5), formed within each change's row. The Column lists
    are built once per (max_record_bytes, rls_enabled) and SparkContext
    (`context_memo`) and kept on the privileges frame, so they go with it;
    a call runs two DataFrame ops, the explode of the groups and the output
    select, with no join and no Spark job.
    """
    if privileges is None:
        grants, memo = None, _UNCHECKED_MEMO
    else:
        grants = _grants(privileges)
        memo = getattr(privileges, "_rs_projection", None)
        if memo is None:
            memo = privileges._rs_projection = {}
    groups, cols = context_memo(
        memo, sets.sparkSession.sparkContext, (max_record_bytes, rls_enabled),
        lambda: _projection_columns(grants, max_record_bytes, rls_enabled),
    )
    return sets.select("c", F.explode(groups).alias("g")).select(*cols)


def apply_replica_identity(changes: DataFrame, identities: DataFrame) -> DataFrame:
    """Shape old_record by each relation's REPLICA IDENTITY setting.

    The pgoutput Relation message carries replica_identity per relation
    (reference: lib/realtime/adapters/postgres/decoder.ex:52-55,186-203 maps
    'd'→default, 'n'→nothing, 'f'→all_columns, 'i'→index), which controls
    what old-tuple data the WAL ships for UPDATE/DELETE:

      full    → the complete old row (unchanged here)
      default → only the primary-key columns
      index   → only the declared identity-index columns (we use the pk
                array as that set, matching the common pk-index case)
      nothing → no old tuple at all

    `identities`: (schema_name, table_name, replica_identity) — one row per
    relation, like the decoder's per-relation Relation state. It is a tiny
    dimension: broadcast hash join, no shuffle of the change stream. Changes
    for relations absent from `identities` default to 'd' (Postgres's
    default), fail-closed toward shipping less data.
    """
    ident = F.broadcast(
        identities.select(
            "schema_name",
            "table_name",
            F.col("replica_identity").alias("_rident"),
        )
    )
    joined = changes.join(ident, ["schema_name", "table_name"], "left")
    mode = F.coalesce(F.col("_rident"), F.lit("d"))
    pk_only = F.map_filter(
        F.col("old_record"), lambda k, v: F.array_contains(F.col("pk"), k)
    )
    shaped = (
        F.when(F.col("action") == "INSERT", F.lit(None).cast("map<string,string>"))
        .when(mode == "f", F.col("old_record"))
        .when(mode == "n", F.lit(None).cast("map<string,string>"))
        .otherwise(pk_only)  # 'd' and 'i': identity columns only
    )
    return joined.withColumn("old_record", shaped).drop("_rident")
