"""Changelog (CDC) reads: row-level changes between snapshots.

The Iceberg ecosystem exposes this as the
``CALL system.create_changelog_view`` procedure; the reference engine
itself has no CDC surface, but a user of a lakehouse table expects one.
Semantics follow Iceberg's changelog rules:

- **append** snapshots emit their added data files' rows as INSERTs
  (an upsert commit also carries delete files — those emit DELETEs for
  the older rows they newly hide);
- **delete** snapshots emit the rows their new delete content hides:
  positional deletes diff as POSITION SETS (``current positions −
  previous positions``), so supersede-by-union deletion-vector commits
  report only the newly deleted rows; equality deletes emit the older
  rows matching the new key files under the strict ``<`` seq guard;
- **overwrite** snapshots (copy-on-write DELETE/UPDATE/MERGE) emit the
  removed files' previously-visible rows as DELETEs and the added
  files' rows as INSERTs — file-granularity change sets, exactly what
  Iceberg's changelog emits for overwrites (row-level net change needs
  ``compute_updates``-style keying, out of scope here too);
- **replace** snapshots (compaction/maintenance) emit NOTHING — files
  moved, rows didn't.

Snapshots written before operation tracking have no recorded operation;
if such a snapshot removed files the changelog is undefined (rewrite vs
overwrite is ambiguous) and the read raises — the same honest gate
``read_incremental`` applies to rewrite ranges.

Output schema: the table schema plus ``_change_type`` (INSERT/DELETE),
``_commit_snapshot_id`` and ``_change_ordinal`` (commit order inside
the requested range).  Scale: each commit contributes scans bounded by
its own added/removed files and delete content — never a whole-table
pass per commit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ic_spark.compaction.request import (
    SYS_HIDDEN_FILE_PATH,
    SYS_HIDDEN_POS,
    SYS_HIDDEN_SEQ_NUM,
    split_equality_delete_groups,
)


def _main_chain(table, from_snapshot_id: int, to_snapshot_id: int | None):
    """Ordered (snapshot_id, operation) list on the main timeline,
    exclusive of ``from``, inclusive of ``to``."""
    snaps = table.main_log()
    ids = [sid for sid, _ in snaps]
    if from_snapshot_id not in ids:
        raise ValueError(f"snapshot {from_snapshot_id} not found")
    start = ids.index(from_snapshot_id)
    end = len(ids) - 1 if to_snapshot_id is None else ids.index(to_snapshot_id)
    if end < start:
        raise ValueError("to_snapshot precedes from_snapshot")
    return snaps[start], snaps[start + 1 : end + 1]


def _with_meta(df: DataFrame, cols, change, sid, ordinal) -> DataFrame:
    return df.select(
        *cols,
        F.lit(change).alias("_change_type"),
        F.lit(sid).cast("long").alias("_commit_snapshot_id"),
        F.lit(ordinal).cast("int").alias("_change_ordinal"),
    )


def read_changelog(
    spark: SparkSession,
    table,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    schema=None,
    compute_updates_key: list[str] | None = None,
    net_changes: bool = False,
    with_lineage: bool = False,
    compute_updates: bool = False,
) -> DataFrame:
    """Row-level changes committed AFTER ``from_snapshot_id`` up to
    ``to_snapshot_id`` (current by default).  See module docstring for
    per-operation semantics.

    ``with_lineage=True`` (Iceberg v3 row-lineage tables) appends
    ``_row_id`` / ``_last_updated_sequence_number`` to every change
    row — the durable identity that lets a CDC consumer pair a DELETE
    with the INSERT that created the row, v3's core use case.  Not
    combinable with ``compute_updates_key`` or ``net_changes`` (those
    collapse rows by VALUE; lineage keys rows by identity).

    ``compute_updates_key`` (Iceberg's changelog ``identifier_columns``
    option): within one commit, a DELETE and an INSERT sharing the key
    re-type as UPDATE_BEFORE / UPDATE_AFTER — the upsert pattern read
    back as updates.  Keys must be unique per commit (the keyed-upsert
    contract).

    ``net_changes`` (Iceberg's ``create_changelog_view`` option of the
    same name): collapse carry-overs ACROSS the whole range — a row
    value inserted in one commit and deleted in a later one (or vice
    versa) nets to nothing; only the range's net difference survives,
    tagged with the LAST commit that touched the value.  Mutually
    exclusive with ``compute_updates_key``, exactly as Iceberg requires
    (net rows from different commits have no per-commit pairing).

    ``compute_updates=True`` (requires ``with_lineage``): pair
    same-commit DELETE+INSERT rows by ``_row_id`` IDENTITY — v3's core
    CDC use case, no identifier columns needed.  Carry-over pairs
    (a COW rewrite copies non-matching rows byte-identical: same
    ``_row_id``, same values, same ``_last_updated_sequence_number``)
    are dropped entirely, Iceberg's default carry-over removal; a
    value-identical UPDATE still pairs because its sequence number
    advances — a distinction value-keyed pairing cannot make."""
    if net_changes and (compute_updates_key or compute_updates):
        raise ValueError(
            "net_changes must be false when compute_updates is requested "
            "(Iceberg create_changelog_view contract)"
        )
    if compute_updates and compute_updates_key:
        raise ValueError(
            "compute_updates pairs by _row_id identity; "
            "compute_updates_key pairs by value — pick one"
        )
    if compute_updates and not with_lineage:
        raise ValueError(
            "compute_updates pairs by _row_id and requires "
            "with_lineage=True (use compute_updates_key for value keys)"
        )
    if with_lineage and (net_changes or compute_updates_key):
        raise ValueError(
            "with_lineage keys rows by identity; net_changes/"
            "compute_updates_key collapse by value — not combinable"
        )
    if with_lineage and not table.row_lineage:
        raise ValueError("with_lineage requires enable_row_lineage()")
    from ic_spark.compaction.deletes import _evolved_scan_args, infer_read_schema
    from ic_spark.compaction.planner import (
        _maybe_broadcast,
        _scan_with_hidden_cols,
        apply_equality_deletes,
        apply_position_deletes,
        equality_delete_rows,
        lineage_scan_schema,
        position_delete_rows,
        strip_lineage_fields,
    )

    (prev_id, _), chain = _main_chain(table, from_snapshot_id, to_snapshot_id)
    # Evolved-spec tables: old files' footers carry pre-rename column
    # names; scanning with schema only would null-fill them silently.
    # Thread name_mapping/schema_history into every scan, exactly as
    # read_table/deletes.py do.
    evo = _evolved_scan_args(table)
    evo.pop("schema", None)
    if schema is None:
        schema = table.schema()
    if schema is None:
        data, _, _ = table.scan_tasks()
        if not data:
            raise ValueError("empty table and no schema given")
        schema = infer_read_schema(spark, data)
    from ic_spark.compaction.request import LAST_UPDATED_SEQ_COL, ROW_ID_COL

    if table.row_lineage:
        # materialized lineage columns in compacted footers are
        # metadata, not user columns (same rule as read_table)
        schema = strip_lineage_fields(schema)
    cols = [f.name for f in schema.fields]
    scan_schema = schema
    lineage_cols = ""
    if with_lineage:
        scan_schema = lineage_scan_schema(schema)
        cols = cols + [ROW_ID_COL, LAST_UPDATED_SEQ_COL]
        lineage_cols = (
            f", `{ROW_ID_COL}` bigint, `{LAST_UPDATED_SEQ_COL}` bigint"
        )
    out_schema = (
        "  , ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        + lineage_cols
        + ", _change_type string, _commit_snapshot_id long, _change_ordinal int"
    )

    def lin(tasks) -> dict | None:
        """The lineage map of ``tasks`` for a hidden-col scan."""
        if not with_lineage:
            return None
        return {t.data_file_path: t.first_row_id for t in tasks}

    def eq_rows(group) -> DataFrame:
        return equality_delete_rows(
            spark, group, schema, evo.get("name_mapping"), evo.get("schema_history")
        )

    def prev_visible(p_data, p_pos, p_eq, with_pos=False, with_seq=False):
        """Rows visible in the PREVIOUS snapshot, hidden cols kept.

        A commit's DELETE events must come from rows that were actually
        visible before it: a row already hidden by an older position or
        equality delete must not be re-emitted when a new delete also
        matches it (Iceberg's changelog is net per-commit change)."""
        base = _scan_with_hidden_cols(
            spark,
            p_data,
            schema=scan_schema,
            with_pos=with_pos or bool(p_pos),
            with_seq=with_seq or bool(p_eq),
            lineage=lin(p_data),
            **evo,
        )
        if p_pos:
            prev = position_delete_rows(spark, p_pos, p_data)
            base = apply_position_deletes(
                base, _maybe_broadcast(prev, p_pos)
            )
        for group in split_equality_delete_groups(p_eq):
            g_del = _maybe_broadcast(eq_rows(group), list(group.tasks))
            base = apply_equality_deletes(base, g_del, list(group.equality_ids))
        return base

    parts: list[DataFrame] = []
    cur_prev = prev_id
    for ordinal, (sid, operation) in enumerate(chain):
        p_data, p_pos, p_eq = table.scan_tasks(cur_prev)
        c_data, c_pos, c_eq = table.scan_tasks(sid)
        p_paths = {t.data_file_path for t in p_data}
        c_paths = {t.data_file_path for t in c_data}
        added = [t for t in c_data if t.data_file_path not in p_paths]
        removed = [t for t in p_data if t.data_file_path not in c_paths]
        new_eq = [
            t
            for t in c_eq
            if t.data_file_path not in {x.data_file_path for x in p_eq}
        ]
        pos_changed = {t.data_file_path for t in c_pos} != {
            t.data_file_path for t in p_pos
        }

        if operation == "replace":
            cur_prev = sid
            continue
        if operation is None and removed:
            raise ValueError(
                f"snapshot {sid} removed files but records no operation; "
                "changelog is undefined across pre-tracking rewrites"
            )

        def removed_rows():
            # Previously-visible rows of the removed files (their
            # then-applicable deletes applied: already-hidden rows
            # are not re-reported).
            from ic_spark.compaction.planner import build_merge_on_read
            from ic_spark.compaction.request import RewriteFilesRequest

            return build_merge_on_read(
                spark,
                RewriteFilesRequest(
                    schema=schema,
                    data_files=removed,
                    position_delete_files=p_pos,
                    equality_delete_files=p_eq,
                    name_mapping=evo.get("name_mapping"),
                    schema_history=evo.get("schema_history"),
                ),
                lineage=lin(removed),
            )

        if operation == "overwrite":
            if removed:
                parts.append(
                    _with_meta(removed_rows(), cols, "DELETE", sid, ordinal)
                )
            if added:
                ins = _scan_with_hidden_cols(
                    spark, added, schema=scan_schema, lineage=lin(added), **evo
                )
                parts.append(_with_meta(ins, cols, "INSERT", sid, ordinal))
            cur_prev = sid
            continue

        # append / delete / upsert commits
        if removed:
            # Whole-data-file removals OUTSIDE an overwrite — e.g. a
            # metadata-only DELETE aligned with partition bounds, as
            # real Iceberg engines write (operation="delete", no new
            # delete files).  Their previously-visible rows are DELETE
            # events; skipping them would lose whole partitions from
            # CDC consumers.
            parts.append(
                _with_meta(removed_rows(), cols, "DELETE", sid, ordinal)
            )
        if added:
            ins = _scan_with_hidden_cols(
                spark, added, schema=scan_schema, lineage=lin(added), **evo
            )
            parts.append(_with_meta(ins, cols, "INSERT", sid, ordinal))
        if pos_changed and c_pos:
            # Both sides fold onto the manifest spelling of the files
            # visible BEFORE this commit, so a delete re-recorded under
            # another spelling is not new.
            cur_rows = position_delete_rows(spark, c_pos, p_data)
            prev_rows = position_delete_rows(spark, p_pos, p_data) if p_pos else None
            newly = (
                cur_rows
                if prev_rows is None
                else cur_rows.exceptAll(prev_rows)
            )
            # Rows these positions hide lived in files visible BEFORE
            # this commit — with that snapshot's own deletes applied,
            # so an already-hidden row is never re-reported.
            base = prev_visible(p_data, p_pos, p_eq, with_pos=True)
            hit = base.join(
                newly, on=[SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS], how="left_semi"
            )
            parts.append(_with_meta(hit, cols, "DELETE", sid, ordinal))
        if new_eq:
            for group in split_equality_delete_groups(new_eq):
                eq_cols = list(group.equality_ids)
                keys = eq_rows(group)
                base = prev_visible(p_data, p_pos, p_eq, with_seq=True)
                cond = F.col(f"d.{SYS_HIDDEN_SEQ_NUM}") < F.col(
                    f"e.{SYS_HIDDEN_SEQ_NUM}"
                )
                for c in eq_cols:
                    cond = cond & (F.col(f"d.{c}") == F.col(f"e.{c}"))
                hit = (
                    base.alias("d")
                    .join(keys.alias("e"), on=cond, how="left_semi")
                )
                parts.append(_with_meta(hit, cols, "DELETE", sid, ordinal))
        cur_prev = sid

    if not parts:
        return spark.createDataFrame([], out_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if compute_updates_key:
        out = _compute_updates(out, compute_updates_key)
    if compute_updates:
        from ic_spark.compaction.request import ROW_ID_COL

        out = _compute_updates(_remove_lineage_carryovers(out), [ROW_ID_COL])
    if net_changes:
        out = _net_changes(out, cols)
    return out


def _remove_lineage_carryovers(out: DataFrame) -> DataFrame:
    """Drop same-commit DELETE+INSERT pairs that are byte-identical
    outside ``_change_type`` — the rewrite noise of a COW commit
    copying non-matching rows into its new files (same ``_row_id``,
    same values, same ``_last_updated_sequence_number``).  Iceberg's
    changelog removes these by default (ChangelogIterator carry-over
    removal); here identity makes the match provable rather than
    heuristic.  Set-op based (``intersect``/``exceptAll``) so NULL
    user-column values compare null-safely."""
    order = out.columns
    dels = out.where(F.col("_change_type") == "DELETE").drop("_change_type")
    ins = out.where(F.col("_change_type") == "INSERT").drop("_change_type")
    carry = dels.intersect(ins)
    keep_d = dels.exceptAll(carry).withColumn("_change_type", F.lit("DELETE"))
    keep_i = ins.exceptAll(carry).withColumn("_change_type", F.lit("INSERT"))
    return keep_d.unionByName(keep_i).select(*order)


def _net_changes(out: DataFrame, cols: list[str]) -> DataFrame:
    """Collapse cross-commit carry-overs to the range's net difference.

    Multiset semantics per distinct row VALUE: ``net = #INSERTs −
    #DELETEs`` across the range; ``|net|`` rows are emitted (INSERT if
    positive, DELETE if negative, nothing at zero) — Iceberg's
    ``removeNetCarryovers`` outcome (ChangelogIterator), expressed as
    aggregation + two window passes over the per-(value, commit)
    counts instead of a sorted iterator, so it scales as shuffles on
    the changed rows only.

    Attribution is PER COMMIT, not collapsed to the last toucher: each
    surviving row carries the snapshot id / ordinal of the commit whose
    insert (or delete) actually survives under LIFO pairing — a DELETE
    cancels the most recent still-outstanding in-range INSERT of the
    same value (deletes are applied before inserts within one commit).
    Model the value's rows as a stack: ``P_c`` = prefix net after
    commit c, ``L_c = P_c − ins_c`` = the intra-commit low (deletes
    land first).  An insert pushed at depth ``d`` in commit c survives
    iff no later commit dips below d (``d ≤ min(net, min_{c'>c}
    L_{c'})``), so commit c contributes ``max(0, m_c − max(L_c, 0))``
    INSERT rows.  Symmetrically a delete that pops a pre-range row
    (depth ≤ 0) is emitted iff never refilled by a later insert
    (``depth > max_{c'≥c} P_{c'}``), giving ``max(0, min(0, P_{c−1}) −
    max(L_c, Mx_c))`` DELETE rows.  Totals are exactly ``|net|`` with
    the net's sign (each final depth in [1, net] — resp. unmatched
    pre-range slot — is counted by exactly one commit), so the
    collapsed-group semantics are unchanged; only the commit metadata
    on multi-commit accumulations is now faithful per row."""
    from pyspark.sql import Window

    signed = out.withColumn(
        "__sign",
        F.when(F.col("_change_type") == "INSERT", F.lit(1)).otherwise(F.lit(-1)),
    )
    g = signed.groupBy(*cols, "_change_ordinal", "_commit_snapshot_id").agg(
        F.sum("__sign").alias("__s"),
        F.sum(F.when(F.col("__sign") == 1, 1).otherwise(0)).alias("__ins"),
    )
    part = Window.partitionBy(*cols)
    whole = part.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ordered = part.orderBy("_change_ordinal")
    run = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    after = ordered.rowsBetween(1, Window.unboundedFollowing)
    from_cur = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    g = (
        g.withColumn("__p", F.sum("__s").over(run))
        .withColumn("__net", F.sum("__s").over(whole))
        .withColumn("__low", F.col("__p") - F.col("__ins"))
        .withColumn(
            "__m",
            F.least(
                F.col("__net"),
                F.coalesce(F.min("__low").over(after), F.col("__net")),
            ),
        )
        .withColumn("__mx", F.max("__p").over(from_cur))
        .withColumn("__pprev", F.col("__p") - F.col("__s"))
    )
    ins_emit = F.greatest(
        F.lit(0), F.col("__m") - F.greatest(F.col("__low"), F.lit(0))
    )
    del_emit = F.greatest(
        F.lit(0),
        F.least(F.lit(0), F.col("__pprev"))
        - F.greatest(F.col("__low"), F.col("__mx")),
    )
    emits = F.filter(
        F.array(
            F.struct(
                F.lit("INSERT").alias("t"), ins_emit.cast("int").alias("n")
            ),
            F.struct(
                F.lit("DELETE").alias("t"), del_emit.cast("int").alias("n")
            ),
        ),
        lambda s: s["n"] > 0,
    )
    return (
        g.select(
            *cols,
            "_commit_snapshot_id",
            "_change_ordinal",
            F.explode(emits).alias("__e"),
        )
        .select(
            *cols,
            F.col("__e.t").alias("_change_type"),
            "_commit_snapshot_id",
            "_change_ordinal",
            F.explode(F.sequence(F.lit(1), F.col("__e.n"))).alias("__i"),
        )
        .drop("__i")
    )


def _compute_updates(out: DataFrame, key_cols: list[str]) -> DataFrame:
    """Pair same-commit DELETE+INSERT rows sharing the key into
    UPDATE_BEFORE / UPDATE_AFTER (Iceberg changelog identifier-column
    semantics); unpaired rows keep their type."""
    on = key_cols + ["_change_ordinal"]
    dels = out.where(F.col("_change_type") == "DELETE")
    ins = out.where(F.col("_change_type") == "INSERT")
    del_keys = dels.select(on).distinct()
    ins_keys = ins.select(on).distinct()
    pre = dels.join(ins_keys, on=on, how="left_semi").withColumn(
        "_change_type", F.lit("UPDATE_BEFORE")
    )
    post = ins.join(del_keys, on=on, how="left_semi").withColumn(
        "_change_type", F.lit("UPDATE_AFTER")
    )
    plain_d = dels.join(ins_keys, on=on, how="left_anti")
    plain_i = ins.join(del_keys, on=on, how="left_anti")
    return pre.unionByName(post).unionByName(plain_d).unionByName(plain_i)


def register_changelog_view(
    spark: SparkSession,
    table,
    name: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    net_changes: bool = False,
    compute_updates_key: list[str] | None = None,
    with_lineage: bool = False,
    compute_updates: bool = False,
) -> DataFrame:
    """``CALL system.create_changelog_view`` analog: registers the
    changelog as a temp view for SQL consumption."""
    df = read_changelog(
        spark,
        table,
        from_snapshot_id,
        to_snapshot_id,
        compute_updates_key=compute_updates_key,
        net_changes=net_changes,
        with_lineage=with_lineage,
        compute_updates=compute_updates,
    )
    df.createOrReplaceTempView(name)
    return df
