"""wal2json-v2 change-event ingestion (S1/S2).

The reference drains `pg_logical_slot_get_changes(... 'format-version', '2',
'include-pk', 'include-timestamp', 'include-type-oids' ...)` and feeds each
JSON object to `apply_rls`
(reference: migrations/20260326120000_list_changes_with_slot_count.ex:43-56,
 migrations/20260626120000_readd_postgrest_filter_ops.ex:315-411).

Spark-natively the same stream arrives as JSON lines (file or Kafka source);
`parse_wal2json` turns it into the engine's normalized change-event frame:

    change_id        bigint     (batch-scoped surrogate id; see select note)
    action           string     INSERT|UPDATE|DELETE|TRUNCATE
    schema_name      string
    table_name       string
    commit_timestamp timestamp
    record           map<string,string>   new-row values as text (I/U)
    old_record       map<string,string>   identity values as text (U/D)
    col_types        map<string,string>   column -> pg typename
    col_names        array<string>        wire order (ORDER BY attnum, W5)
    pk               array<string>        primary-key column names
    record_bytes     bigint               serialized size for the 1 MiB clamp (P10)

Everything stays text-typed at the edge (like wal2json); typed comparison
happens at filter-eval time via the realtime.cast equivalent (casts.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# raw wal2json v2 JSON shape (FIXTURES.md §2)
WAL2JSON_SCHEMA_DDL = (
    "action string, schema string, `table` string, timestamp string, "
    "columns array<struct<name:string,type:string,typeoid:int,value:string>>, "
    "identity array<struct<name:string,type:string,typeoid:int,value:string>>, "
    "pk array<struct<name:string,type:string>>"
)

_ACTION_MAP = {"I": "INSERT", "U": "UPDATE", "D": "DELETE", "T": "TRUNCATE"}


def _cols_to_map(cols: Column) -> Column:
    return F.map_from_entries(
        F.transform(cols, lambda c: F.struct(c["name"].alias("key"), c["value"].alias("value")))
    )


def parse_wal2json(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """raw DataFrame with a JSON-string column -> normalized change events.

    Parses a batch frame, as inside a `foreachBatch` body: on a streaming
    frame Spark rejects the `monotonically_increasing_id` change ids below.
    """
    w = F.from_json(F.col(json_col), WAL2JSON_SCHEMA_DDL)
    parsed = raw.withColumn("w", w)
    action_expr = F.coalesce(
        *[F.when(F.col("w.action") == k, F.lit(v)) for k, v in _ACTION_MAP.items()]
    )
    cols = F.col("w.columns")
    ident = F.col("w.identity")
    meta_src = F.coalesce(cols, ident)
    out = parsed.select(
        # BATCH-SCOPED surrogate: unique within one parse call only — ids
        # restart per micro-batch and order by partition index, so they are
        # NOT a cross-batch identity or a WAL total order. Cross-batch
        # consumers key on the change CONTENT (pk + commit_timestamp + seq
        # from the feed) or the pgoutput path's real LSNs.
        F.monotonically_increasing_id().alias("change_id"),
        action_expr.alias("action"),
        F.col("w.schema").alias("schema_name"),
        F.col("w.table").alias("table_name"),
        F.to_timestamp(F.col("w.timestamp")).alias("commit_timestamp"),
        F.when(cols.isNotNull(), _cols_to_map(cols)).alias("record"),
        F.when(ident.isNotNull(), _cols_to_map(ident)).alias("old_record"),
        F.map_from_entries(
            F.transform(
                meta_src, lambda c: F.struct(c["name"].alias("key"), c["type"].alias("value"))
            )
        ).alias("col_types"),
        F.transform(meta_src, lambda c: c["name"]).alias("col_names"),
        F.transform(F.col("w.pk"), lambda c: c["name"]).alias("pk"),
        F.octet_length(F.col(json_col)).alias("record_bytes"),
    )
    return out


def parse_wal2json_quarantine(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: (events, quarantined).

    `from_json` maps malformed JSON to a NULL struct, which would otherwise
    flow through the pipeline as an all-NULL change row. Production CDC
    quarantines such rows instead of dropping or crashing — the WAL position
    is still consumed (the reference's poller likewise skips undecodable
    entries and keeps draining the slot), but the payload is preserved for
    replay/debugging. Quarantine reasons: 'malformed json' (unparseable) and
    'unknown action' (action not in I/U/D/T — e.g. wal2json 'B'/'C'
    begin/commit frames when the publication is misconfigured to emit them).

    Rows are classified in one pass; the good branch re-parses, which
    Catalyst keeps cheap (the filter prunes before the wide projection).
    """
    w = F.from_json(F.col("value"), WAL2JSON_SCHEMA_DDL)
    known = F.col("_w.action").isin(*_ACTION_MAP.keys())
    flagged = raw.withColumn("_w", w)
    # from_json in PERMISSIVE mode yields an all-NULL struct for unparseable
    # input (not a NULL struct), so "no action field" IS the malformed signal
    unparsed = F.col("_w").isNull() | F.col("_w.action").isNull()
    bad = flagged.filter(unparsed | ~known).select(
        F.col("value").alias("raw_payload"),
        F.when(unparsed, F.lit("malformed json"))
        .otherwise(F.concat(F.lit("unknown action: "), F.col("_w.action")))
        .alias("reason"),
    )
    good = parse_wal2json(flagged.filter(~unparsed & known).drop("_w"))
    return good, bad
