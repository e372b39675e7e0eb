"""The core CDC query: change-events ⋈ subscriptions with filter visibility.

Reference behavior reproduced:
  - J1 subscription-to-event match: `subscription WHERE entity = $1 AND
    (action_filter = '*' OR action_filter = action)` then per-subscription
    filter evaluation (reference: migrations/20260626120000:330-337; hash
    index on entity migrations/20211116024918:45)
  - P5 action filter (reference: subscriptions.ex:382-393)
  - P6/J7 schema/table wildcard, expanded against publication tables at
    subscription-load time (reference: subscriptions.ex:61-74)
  - P3 conjunctive fail-closed visibility (reference: migrations/20260626120000:158-185)
  - A5 visible subscription_ids collected per change
    (reference: migrations/20260626120000:500-536,639-648)

Spark-first design for 100 TB: subscriptions are a small dimension with few
distinct (entity, action, filters) signatures, so by default the match is
**compiled into the plan** — one codegen'd predicate per subscription over the
change scan, no join and no shuffle. `matched_pairs` returns one row per
matched change with the array of its matched subscriptions, the shape every
later stage (RLS, projection, the id set) consumes within the row. Above
COMPILE_MAX_SUBS subscriptions the fallback is a **broadcast hash join** on
(schema_name, table_name) with the filter interpreter (filters.py, a pure
higher-order-function expression) as residual join filter, grouped back to
the same per-change shape.

DELETE changes evaluate filters against old_record (wal2json carries only
`identity` for deletes — reference decoder.ex + migrations/20260626120000:586-634).
"""

from __future__ import annotations

from typing import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_spark.functions.filters import (
    FILTER_STRUCT_DDL,
    FilterValidationError,
    compile_filters_on_record,
    filters_match_expr,
    filters_to_rows,
    parse_filter_string,
)
from realtime_spark.session import local_frame

SUBSCRIPTION_SCHEMA_DDL = (
    "id bigint, subscription_id string, schema_name string, table_name string, "
    "filters array<struct<column_name:string,op:string,value:string,"
    "values:array<string>,negate:boolean,fam:string>>, "
    "claims_role string, action_filter string, selected_columns array<string>, "
    "claims map<string,string>"
)


def subscriptions_df(
    spark: SparkSession,
    specs: Iterable[Mapping],
    type_maps: Mapping[tuple[str, str], Mapping[str, str]] | None = None,
) -> DataFrame:
    """Build the subscription dimension from specs.

    Spec keys: subscription_id, schema ('*' ok), table ('*' ok),
    filters (PostgREST filter string, optional), action ('*'|'INSERT'|...),
    claims_role (default 'authenticated'), selected_columns (list | None).

    `type_maps` maps (schema, table) -> {column: pg typename}; each filter's
    comparison family is resolved here against it. Filter strings are
    parsed+validated+canonical-sorted here too — together the analog of the
    reference's `subscription_check_filters` trigger (P4), which type-checks
    filters against the catalog at subscription insert. Wildcard ('*')
    subscriptions resolve against the union of all known relations.
    """
    type_maps = dict(type_maps or {})
    from realtime_spark.functions.casts import pg_type_family

    merged: dict[str, str] = {}
    _fams: dict[str, str] = {}
    ambiguous: set[str] = set()  # same column name, conflicting type FAMILIES
    for m in type_maps.values():
        for col, t in m.items():
            fam = pg_type_family(t)
            # compare comparison families, not raw names: int4 vs bigint
            # both compare as 'long' and are NOT ambiguous
            if col in _fams and _fams[col] != fam:
                ambiguous.add(col)
            _fams[col] = fam
            merged[col] = t
    rows = []
    for i, s in enumerate(specs):
        filters = parse_filter_string(s.get("filters"))
        schema = s.get("schema", "public")
        table = s.get("table", "*")
        types = type_maps.get((schema, table), merged if "*" in (schema, table) else {})
        if "*" in (schema, table) and filters:
            # a wildcard filter on a column whose type differs across
            # relations has no single comparison family — last-wins would
            # silently compare numbers as strings on some tables; reject it
            # like the reference's subscription_check_filters type check
            bad = [f.column_name for f in filters if f.column_name in ambiguous]
            if bad:
                raise FilterValidationError(
                    f"wildcard filter column(s) {bad} have conflicting types "
                    "across relations; subscribe per table instead"
                )
        rows.append(
            {
                "id": int(s.get("id", i + 1)),
                "subscription_id": s["subscription_id"],
                "schema_name": schema,
                "table_name": table,
                "filters": filters_to_rows(filters, types) if filters else None,
                "claims_role": s.get("claims_role", "authenticated"),
                "action_filter": s.get("action", "*"),
                "selected_columns": s.get("selected_columns"),
                # session claims (jwt payload) for claims-parameterized RLS
                # (set_config('request.jwt.claims') analog, P7)
                "claims": {
                    str(k): str(v) for k, v in (s.get("claims") or {}).items()
                },
            }
        )
    df = local_frame(spark, rows, SUBSCRIPTION_SCHEMA_DDL)
    # stash the local rows so the compiled match (matched_pairs) reads the
    # dim without a Spark job; any DataFrame surgery drops the attribute and
    # the dim is collected instead
    df._rs_spec_rows = rows
    return df


def upsert_subscriptions(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """S4: INSERT .. ON CONFLICT DO UPDATE on the subscription dimension.

    The reference upserts into `realtime.subscription` with a unique index on
    (subscription_id, entity, filters, action, coalesce(selected_columns,'{}'))
    (reference: lib/extensions/postgres_cdc_rls/subscriptions.ex:60-137;
     unique index migrations/20211116024918:41-45). Relationally: incoming
    rows win on key collision; canonical filter sort (done at parse time)
    makes the key comparison representation-stable. On a Delta table this is
    a MERGE; on the in-memory dim it is an anti-join + union.
    """
    key = [
        "subscription_id",
        "schema_name",
        "table_name",
        F.to_json(F.coalesce(F.col("filters"), F.array().cast(FILTER_STRUCT_DDL))),
        "action_filter",
        F.coalesce(F.col("selected_columns"), F.array().cast("array<string>")),
    ]
    # key via to_json(struct(...)): unambiguous field boundaries — a plain
    # concat_ws separator both flattens arrays and skips NULLs, so
    # selected_columns ['a','b'] vs ['a|b'] (or a '|' inside an id) would
    # collide and the anti-join would drop an unrelated subscription
    keyed = lambda df: df.withColumn("_k", F.md5(F.to_json(F.struct(*[  # noqa: E731
        (c if isinstance(c, Column) else F.col(c)).alias(f"k{i}")
        for i, c in enumerate(key)
    ]), {"ignoreNullFields": "false"})))
    ex = keyed(existing)
    inc = keyed(incoming)
    kept = ex.join(inc.select("_k"), "_k", "left_anti")
    return kept.unionByName(inc).drop("_k")


def delete_subscriptions(existing: DataFrame, subscription_ids) -> DataFrame:
    """S4 counterpart: unsubscribe. The reference deletes the subscriber's
    rows from `realtime.subscription` on channel leave / socket close
    (reference: lib/extensions/postgres_cdc_rls/subscriptions.ex:139-206 —
    delete_by_subscription_ids / delete_all). On the dim frame this is a
    filter; on a Delta table a DELETE WHERE subscription_id IN (...)."""
    ids = list(subscription_ids)
    return existing.filter(~F.col("subscription_id").isin(ids))


def expand_wildcards(
    subs: DataFrame, publication_tables: Sequence[tuple[str, str]]
) -> DataFrame:
    """J7: expand '*' schema/table against the publication at load time so the
    hot join stays a pure equi-join (the reference does the same expansion with
    a LIKE lateral join at subscription insert: subscriptions.ex:61-74)."""
    spark = subs.sparkSession
    local = getattr(subs, "_rs_spec_rows", None)
    if local is not None:
        expanded = [
            {**r, "schema_name": ps, "table_name": pt}
            for r in local
            for ps, pt in publication_tables
            if r["schema_name"] in ("*", ps) and r["table_name"] in ("*", pt)
        ]
        df = local_frame(spark, expanded, subs.schema)
        df._rs_spec_rows = expanded
        return df
    pub = local_frame(
        spark,
        [{"pub_schema": ps, "pub_table": pt} for ps, pt in publication_tables],
        "pub_schema string, pub_table string",
    )
    matched = subs.join(
        F.broadcast(pub),
        ((subs.schema_name == "*") | (subs.schema_name == pub.pub_schema))
        & ((subs.table_name == "*") | (subs.table_name == pub.pub_table)),
        "inner",
    )
    return matched.drop("schema_name", "table_name").withColumnsRenamed(
        {"pub_schema": "schema_name", "pub_table": "table_name"}
    )


# Above this many subscription rows, matched_pairs/match_changes fall back to
# the broadcast-join + runtime-interpreter plan instead of plan-compiling every
# predicate (expression-tree size, and with that many distinct filter sets the
# dim genuinely is data). At 100 TB the compiled path is the one that matters:
# real deployments have few DISTINCT (entity, action, filters) signatures even
# with millions of subscribers — the reference exploits the same grouping
# (migrations/20260626120000:413-417 per-role / per-selected_columns loops).
COMPILE_MAX_SUBS = 128


def _collect_small_dim(subs: DataFrame):
    """Collect the subscription dim if it is compile-sized, else None.
    Dims built by subscriptions_df carry their rows locally (zero jobs)."""
    local = getattr(subs, "_rs_spec_rows", None)
    if local is not None:
        return local if len(local) <= COMPILE_MAX_SUBS else None
    rows = subs.limit(COMPILE_MAX_SUBS + 1).collect()
    if len(rows) > COMPILE_MAX_SUBS:
        return None
    return rows


def _named_struct(cols: Mapping[str, Column]) -> Column:
    """Struct with explicitly-named fields (alias-on-expression inside
    F.struct proved fragile for complex expressions)."""
    parts: list[Column] = []
    for n, c in cols.items():
        parts.append(F.lit(n))
        parts.append(c)
    return F.named_struct(*parts)


def _any_pred(preds) -> Column:
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def _lit_str(col: Column) -> str | None:
    """The string value of a plan-time Literal column, else None. Lets the
    compiled match constant-fold literal-vs-literal entity clauses in Python
    (a change feed built with F.lit(schema)/F.lit(table)/literal action)
    instead of emitting Spark's 'trivially true equals predicate' warning
    for every subscription."""
    try:
        node = col._jc.node()  # Spark 4 ColumnNode
        if node.getClass().getSimpleName() == "Literal":
            v = node.value()
            return None if v is None else str(v)
    except Exception:
        return None
    return None


def _sub_pred(r, cols, typed_cols=None, typed_dtypes=None) -> Column:
    """Plan-time predicate for one collected subscription row: entity equality
    + action filter + compiled filter conjunction over the action-appropriate
    record (DELETE evaluates old_record — wal2json delete identity). With
    `typed_cols` the action pick is the SOURCE's job: typed change scans
    must project the delete identity into the typed columns for DELETE rows
    (see compile_filter_on_record's contract note).

    `cols` maps change-column name -> Column (over whatever frame the
    predicate runs on); `typed_cols` optionally maps record keys to typed
    base columns (see compile_filter_on_record)."""
    target = F.when(cols["action"] == "DELETE", cols["old_record"]).otherwise(
        cols["record"]
    )
    wanted = [("schema_name", r["schema_name"]), ("table_name", r["table_name"])]
    if r["action_filter"] != "*":
        wanted.append(("action", r["action_filter"]))
    clauses: list[Column] = []
    for cname, val in wanted:
        lv = _lit_str(cols[cname])
        if lv is not None:
            if lv != val:
                return F.lit(False)  # entity can never match: fold whole pred
            # equal literals: clause is constant-true, skip it
        else:
            clauses.append(cols[cname] == F.lit(val))
    pred = compile_filters_on_record(r["filters"], target, typed_cols, typed_dtypes)
    for c in reversed(clauses):
        pred = c & pred
    return pred


def _sub_struct_lit(r) -> Column:
    """Collected subscription row -> struct literal (schema parity with the
    subscription dim; `filters` is typed-NULL — consumed at match time only)."""
    sel = r["selected_columns"]
    return F.struct(
        F.lit(r["id"]).cast("bigint").alias("id"),
        F.lit(r["subscription_id"]).alias("subscription_id"),
        F.lit(r["schema_name"]).alias("schema_name"),
        F.lit(r["table_name"]).alias("table_name"),
        F.lit(None).cast(FILTER_STRUCT_DDL).alias("filters"),
        F.lit(r["claims_role"]).alias("claims_role"),
        F.lit(r["action_filter"]).alias("action_filter"),
        (
            F.array(*[F.lit(x) for x in sel])
            if sel is not None
            else F.lit(None).cast("array<string>")
        ).alias("selected_columns"),
        (
            F.create_map(*[F.lit(x) for kv in sorted(r["claims"].items()) for x in kv])
            if r["claims"] is not None
            else F.lit(None)
        ).cast("map<string,string>").alias("claims"),
    )


# field order of SUBSCRIPTION_SCHEMA_DDL: the `subs` element struct of both
# match plans
_SUB_FIELDS = (
    "id", "subscription_id", "schema_name", "table_name", "filters",
    "claims_role", "action_filter", "selected_columns", "claims",
)


def _joined_sets(changes: DataFrame, subs: DataFrame) -> DataFrame:
    """Interpreter plan (the dim exceeds COMPILE_MAX_SUBS): broadcast join
    with the generic JVM filter interpreter as residual condition, grouped
    back to one row per change_id — the plan's one shuffle."""
    s = F.broadcast(subs).alias("s")
    c = changes.alias("c")
    filter_target = F.when(
        F.col("c.action") == "DELETE", F.col("c.old_record")
    ).otherwise(F.col("c.record"))
    cond = (
        (F.col("s.schema_name") == F.col("c.schema_name"))
        & (F.col("s.table_name") == F.col("c.table_name"))
        & ((F.col("s.action_filter") == "*") | (F.col("s.action_filter") == F.col("c.action")))
        & filters_match_expr(F.col("s.filters"), filter_target)
    )
    sub = F.struct(*[
        # filters are consumed by the match; like the compiled plan's
        # struct literals, the matched struct carries them as NULL
        (F.lit(None).cast(FILTER_STRUCT_DDL) if n == "filters" else F.col(f"s.{n}")).alias(n)
        for n in _SUB_FIELDS
    ])
    return (
        c.join(s, cond, "inner")
        .groupBy(F.col("c.change_id"))
        .agg(
            F.first(F.struct(*[F.col(f"c.{n}") for n in changes.columns])).alias("c"),
            F.collect_list(sub).alias("subs"),
        )
        .select("c", "subs")
    )


def _compile(rows, cols: Mapping[str, Column], typed_cols=None, typed_dtypes=None):
    """One subscription set compiled against one change-frame shape: (the
    disjunction of the per-subscription plan-time predicates, the select
    list of the match-set frame — the change as struct `c` plus the array
    `subs` of the structs of the subscriptions it matches)."""
    preds = [_sub_pred(r, cols, typed_cols, typed_dtypes) for r in rows]
    matches = F.array_compact(
        F.array(*[F.when(p, _sub_struct_lit(r)) for p, r in zip(preds, rows)])
    )
    return _any_pred(preds), [_named_struct(cols).alias("c"), matches.alias("subs")]


def _compiled_sets(changes: DataFrame, subs: DataFrame, rows) -> DataFrame:
    """The compiled match of `changes` against `rows`, the collected dim
    `subs`.

    Over a plain change frame every compiled expression is a name-bound
    column reference, so it depends only on the frame's column names and is
    memoized on the dim, keyed by the subscription rows and the column
    names: a foreachBatch body calling matched_pairs / match_changes on
    every micro-batch builds the tree (one py4j round trip per Column node,
    ~15k for 32 subscriptions) once per subscription set, like the
    reference's poller preparing its statement once per subscription epoch
    (replication_poller.ex:240-292). The memo holds only for the
    SparkContext it was built under, and never once that context stopped.
    A typed source is compiled afresh: its predicates read typed scan
    columns of its own base frame.

    The typed-source contract (`_rs_typed_source`, set by relational
    derivations like testdata.changes_from_orders) is (base_df,
    change_exprs, typed_record_cols): predicates read typed scan columns
    (parquet pushdown) and the record maps are only built for rows that
    matched."""
    typed = getattr(changes, "_rs_typed_source", None)
    if typed is not None:
        base, change_exprs, typed_cols = typed
        # dtype of each typed expression (schema analysis only, no job):
        # native-typed columns compile to cast-free, scan-pushable predicates
        typed_dtypes = dict(base.select([c.alias(n) for n, c in typed_cols.items()]).dtypes)
        match, cols = _compile(rows, dict(change_exprs), dict(typed_cols), typed_dtypes)
        return base.filter(match).select(*cols)
    # keyed on the context, not the session: foreachBatch wraps every
    # micro-batch in a new SparkSession over the same context
    sc = changes.sparkSession.sparkContext
    key = (repr(rows), tuple(changes.columns))
    memo = getattr(subs, "_rs_compiled", None)
    if memo is None or memo[0] is not sc or sc._jsc is None or memo[1] != key:
        memo = (sc, key, _compile(rows, {n: F.col(n) for n in changes.columns}))
        subs._rs_compiled = memo
    match, cols = memo[2]
    return changes.filter(match).select(*cols)


def matched_pairs(changes: DataFrame, subs: DataFrame) -> DataFrame:
    """The match-set frame: one row per matched change, the change as struct
    `c` and the array `subs` of the subscriptions that see it (J1), each a
    struct with the dim's fields (`filters` NULL). It is the one contract
    between the CDC stages: auth.apply_rls_policies filters `subs` and
    projection.project_output groups it, both within the row; a consumer
    of (change, subscription) pairs explodes it,
    `.select("c", F.explode("subs").alias("s"))`.

    Default plan (dim of at most COMPILE_MAX_SUBS rows, the realistic case):
    the subscriptions are **compiled into the plan** — one codegen'd
    predicate per subscription, the matching ones collected per change with
    `array_compact`, the reference's single pass over each WAL record
    (migrations/20260626120000:500-536). The change stream is scanned once
    with no join and no shuffle; Catalyst constant-folds the entity
    equality per subscription. The compiled expressions are memoized on the
    dim (see `_compiled_sets`).

    Fallback plan (a larger dim): broadcast hash join on (schema_name,
    table_name) with the runtime filter interpreter as residual condition,
    grouped by change_id into the same frame (one shuffle).
    """
    rows = _collect_small_dim(subs)
    if rows is None:
        return _joined_sets(changes, subs)
    if not rows:
        empty = local_frame(changes.sparkSession, [], subs.schema)
        return _joined_sets(changes.limit(0), empty)
    return _compiled_sets(changes, subs, rows)


def match_changes(changes: DataFrame, subs: DataFrame) -> DataFrame:
    """Full J1+A5: change rows annotated with the sorted array of visible
    subscription ids (the reference's `wal_rls.subscription_ids`), projected
    from the match-set frame: on the compiled plan no join, no groupBy and
    no shuffle anywhere (migrations/20260626120000:500-536)."""
    ids = F.sort_array(F.array_distinct(F.transform("subs", lambda s: s["subscription_id"])))
    return matched_pairs(changes, subs).select("c.*", ids.alias("subscription_ids"))
