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

All pure map/array expressions — no UDFs, stays in codegen. The input is the
match-set frame of cdc.matched_pairs (one row per change with its array of
matched subscriptions, also after apply_rls_policies): the groups form within
each change's row with no shuffle at all.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_spark.functions.scalar import iso_ms
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


def keep_keys(m: Column, keys: Column) -> Column:
    """Project a map to a key whitelist (NULL whitelist = keep all)."""
    return F.when(keys.isNull(), m).otherwise(
        F.map_filter(m, lambda k, v: F.array_contains(keys, k))
    )


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
    """(role, schema, table) -> allowed column names, as a broadcastable dim
    held in the JVM (its broadcast starts no Python worker)."""
    rows = [
        {"claims_role": r, "schema_name": s, "table_name": t, "allowed_columns": list(cols)}
        for (r, s, t), cols in grants.items()
    ]
    return local_frame(
        spark,
        rows,
        "claims_role string, schema_name string, table_name string, "
        "allowed_columns array<string>",
    )


_CHANGE_FIELDS = (
    "change_id", "action", "schema_name", "table_name", "commit_timestamp",
    "record", "old_record", "col_types", "col_names", "pk", "record_bytes",
)


def _grouped_from_sets(sets: DataFrame) -> DataFrame:
    """Match sets (change `c` + array `subs` of matched subscriptions, one
    row per change) -> one row per (change, role, selection) group with its
    sorted id set, with ZERO shuffle: the distinct (role, selected_columns)
    groups and their id sets are computed within the row (the reference's
    per-role / per-selection loop, migrations/20260626120000:413-417,541-545)."""
    groups = F.array_distinct(
        F.transform(
            F.col("subs"),
            lambda s: F.struct(
                s["claims_role"].alias("claims_role"),
                s["selected_columns"].alias("selected_columns"),
            ),
        )
    )
    exploded = sets.select("c", "subs", F.explode(groups).alias("g"))
    ids = F.sort_array(
        F.array_distinct(
            F.transform(
                F.filter(
                    F.col("subs"),
                    lambda s: s["claims_role"].eqNullSafe(F.col("g.claims_role"))
                    & s["selected_columns"].eqNullSafe(F.col("g.selected_columns")),
                ),
                lambda s: s["subscription_id"],
            )
        )
    )
    return exploded.select(
        *[F.col(f"c.{f}").alias(f) for f in _CHANGE_FIELDS],
        F.col("g.claims_role").alias("claims_role"),
        F.col("g.selected_columns").alias("selected_columns"),
        ids.alias("subscription_ids"),
    )


def project_output(
    sets: DataFrame,
    privileges: DataFrame | None = None,
    max_record_bytes: int = MAX_RECORD_BYTES,
    rls_enabled: bool = False,
) -> DataFrame:
    """cdc.matched_pairs match sets -> final CDC output rows.

    One output row per (change, claims_role, selected_columns) group with the
    group's visible subscription ids — the reference's per-role/per-selection
    loop hoisting (O5), formed within each change's row.
    """
    grouped = _grouped_from_sets(sets)

    if privileges is not None:
        # post-grouping broadcast join: allowed_columns depends only on the
        # group keys, and there are at most as many groups as (change,
        # subscription) pairs
        grouped = grouped.join(
            F.broadcast(privileges),
            ["claims_role", "schema_name", "table_name"],
            "left",
        ).withColumn(
            # fail CLOSED: a role with no grants row gets an EMPTY column
            # whitelist (masked to nothing + Error 401 via pk_unreadable),
            # not the NULL that means "privileges not checked"
            "allowed_columns",
            F.coalesce(F.col("allowed_columns"), F.array().cast("array<string>")),
        )
    else:
        grouped = grouped.withColumn(
            "allowed_columns", F.lit(None).cast("array<string>")
        )

    action = F.col("action")
    pk = F.col("pk")
    allowed = F.col("allowed_columns")
    selected = F.col("selected_columns")

    # selected ∪ pk (P9); NULL selection keeps everything
    keep = F.when(selected.isNull(), F.lit(None).cast("array<string>")).otherwise(
        F.array_union(selected, F.coalesce(pk, F.array()))
    )

    merged = F.when(
        action == "UPDATE", toast_merge(F.col("record"), F.col("old_record"))
    ).otherwise(F.col("record"))

    def mask(m: Column) -> Column:
        out = keep_keys(m, keep)
        out = F.when(allowed.isNull(), out).otherwise(keep_keys(out, allowed))
        return out

    record_out = F.when(action != "DELETE", mask(merged))
    old_out = F.when(
        action == "DELETE",
        # coalesce: a pk-less table under RLS must ship NOTHING of the old
        # row (keep_keys' NULL-whitelist keep-all would leak every column
        # alongside the Error 400)
        keep_keys(F.col("old_record"), F.coalesce(pk, F.array()))
        if rls_enabled
        else mask(F.col("old_record")),
    ).when(action == "UPDATE", mask(F.col("old_record")))

    oversize = F.coalesce(F.col("record_bytes") > F.lit(max_record_bytes), F.lit(False))

    def clamp(m: Column) -> Column:
        return F.when(
            oversize,
            # NULL values survive the salvage (octet_length(NULL) is NULL
            # and map_filter drops non-true entries; pg's jsonb null is a
            # 4-byte value and is kept)
            F.map_filter(
                m,
                lambda k, v: v.isNull() | (F.octet_length(v) <= _SALVAGE_VALUE_BYTES),
            ),
        ).otherwise(m)

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
            F.col("col_names"),
            lambda n: F.struct(
                n.alias("name"), F.try_element_at(F.col("col_types"), n).alias("type")
            ),
        ),
        lambda s: (
            F.when(keep.isNull(), F.lit(True)).otherwise(F.array_contains(keep, s["name"]))
            & F.when(allowed.isNull(), F.lit(True)).otherwise(
                F.array_contains(allowed, s["name"])
            )
        ),
    )

    return grouped.select(
        "change_id",
        "schema_name",
        "table_name",
        action.alias("type"),
        iso_ms(F.col("commit_timestamp")).alias("commit_timestamp"),
        visible_meta.alias("columns"),
        clamp(record_out).alias("record"),
        clamp(old_out).alias("old_record"),
        F.when(F.size(errors) > 0, errors).alias("errors"),
        "claims_role",
        "selected_columns",
        "subscription_ids",
    )


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
