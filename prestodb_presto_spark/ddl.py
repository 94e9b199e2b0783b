"""DDL / DML surface (SURVEY.md §3 EP3).

The reference dispatches non-query statements to per-statement tasks
(presto-main/.../execution/CreateTableTask.java, DropTableTask.java,
SetSessionTask.java, ... ~25 *Task.java files); INSERT/CTAS/DELETE plan
through TableWriterNode/TableFinishNode/DeleteNode (§2.1).  Spark-first
these are catalog calls and writes; DELETE without a transactional
format (Delta/Iceberg, absent in this container) is a partition-scoped
rewrite — the same strategy as the reference's MetadataDeleteOperator
whole-partition fast path (operator/MetadataDeleteOperator.java).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prestodb_presto_spark.sources.io import write_table


def create_table_as(
    spark: SparkSession,
    name: str,
    query_or_df: str | DataFrame,
    path: str | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """CTAS (grammar SqlBase.g4:37-40; CreateTableAsOperator path).

    With ``path``: materialize as parquet and register a view over the
    files (survives the session's cache).  Without: register a temp view
    (presto-memory-style).
    """
    df = spark.sql(query_or_df) if isinstance(query_or_df, str) else query_or_df
    if path is not None:
        write_table(df, path=path, partition_by=partition_by)
        out = spark.read.parquet(path)
        out.createOrReplaceTempView(name)
        return out
    df.createOrReplaceTempView(name)
    return df


def insert_into(spark: SparkSession, path: str, rows: DataFrame) -> None:
    """INSERT INTO a parquet-backed table (TableWriterOperator.java:51)."""
    write_table(rows, path=path, mode="append")


def delete_where(spark: SparkSession, path: str, condition: str) -> int:
    """DELETE FROM <path-backed table> WHERE <condition>.

    Rewrite strategy (no transactional format available): read, keep the
    complement, overwrite.  Returns rows deleted.  At 100 TB on Delta or
    Iceberg this becomes a native `DELETE FROM` (file-level skipping +
    transaction log); on raw parquet restrict the rewrite to affected
    partitions via `replaceWhere`-style partition predicates.
    """
    df = spark.read.parquet(path)
    # one aggregation job computes the deleted count (count of matching
    # rows) — not two full-table .count() scans
    deleted = df.select(
        F.count(F.when(F.expr(condition), True)).alias("d")
    ).collect()[0].d
    remaining = df.filter(f"NOT ({condition})")
    # overwrite must not read lazily from the files being replaced
    staged = remaining.cache()
    staged.count()
    write_table(staged, path=path, mode="overwrite")
    staged.unpersist()
    return int(deleted)


def describe(spark: SparkSession, name: str) -> list[tuple[str, str]]:
    """DESCRIBE <table> → [(col, type)] (information_schema synthesis,
    presto-main/.../connector/informationSchema/)."""
    return [(f.name, f.dataType.simpleString()) for f in spark.table(name).schema.fields]


def show_tables(spark: SparkSession) -> list[str]:
    """SHOW TABLES → session-catalog listing."""
    return sorted(t.name for t in spark.catalog.listTables())


def explain(df: DataFrame, mode: str = "formatted") -> str:
    """EXPLAIN (grammar SqlBase.g4:68); mode="cost" adds Catalyst
    statistics.  For runtime metrics use ``explain_analyze``."""
    jdf = df._jdf
    spark = df.sparkSession
    return jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def explain_io(plan_text: str) -> str:
    """EXPLAIN (TYPE IO) payload (planPrinter/IOPlanPrinter.java): a
    JSON document of the INPUT TABLES the plan reads — per scan, the
    columns actually read (ReadSchema, i.e. column pruning made
    visible) and the filter constraints pushed into the scan
    (PushedFilters — the reference prints TupleDomain constraints per
    column; Spark's pushed-filter predicates are grouped per column the
    same way) — plus the output table for INSERT/CTAS plans.  Built by
    parsing Spark's formatted physical plan, so it reflects the plan
    that would EXECUTE, not the query text."""
    import json
    import re

    infos = []
    for block in re.split(r"\n(?=\(\d+\) )", plan_text):
        header = block.splitlines()[0] if block.strip() else ""
        m = re.match(r"\(\d+\)\s+Scan\s+(\w+)\s*([\w.$\-]*)", header)
        if not m:
            continue
        fmt, name = m.group(1), m.group(2)
        loc = re.search(r"Location: \w+ \[([^\]\,]*)", block)
        if not name and loc:
            name = loc.group(1).rstrip("/").rsplit("/", 1)[-1].split(".")[0]
        cols = []
        rs = re.search(r"ReadSchema: struct<([^\n]*)>", block)
        if rs:
            # bracket-aware top-level split (nested struct/array/map
            # types carry commas of their own)
            depth, cur, fields = 0, [], []
            for ch in rs.group(1):
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                if ch == "," and depth == 0:
                    fields.append("".join(cur))
                    cur = []
                else:
                    cur.append(ch)
            if cur:
                fields.append("".join(cur))
            for fld in fields:
                cname, _, ctype = fld.partition(":")
                cols.append({"columnName": cname.strip(), "type": ctype.strip()})
        constraints: dict[str, list[str]] = {}
        pf = re.search(r"PushedFilters: \[([^\n]*)\]", block)
        if pf and pf.group(1).strip():
            for pred in re.findall(r"\w+\([^()]*\)", pf.group(1)):
                cm = re.match(r"\w+\((\w+)", pred)
                if cm:
                    constraints.setdefault(cm.group(1), []).append(pred)
        infos.append(
            {
                "table": {
                    "catalog": "hive",
                    "schemaTable": {"schema": "default", "table": name or fmt},
                },
                "format": fmt,
                "columns": cols,
                "columnConstraints": [
                    {"columnName": c, "pushedFilters": preds}
                    for c, preds in sorted(constraints.items())
                ],
            }
        )
    out = {"inputTableColumnInfos": infos}
    # the command's detail block carries the qualified destination:
    # Arguments: file:/..., false, Parquet, ..., `catalog`.`db`.`table`, ...
    om = re.search(
        r"InsertIntoHadoopFsRelationCommand\nInput.*\nArguments:[^\n]*?"
        r"`(\w+)`\.`(\w+)`\.`(\w+)`",
        plan_text,
    )
    if om:
        out["outputTable"] = {
            "catalog": "hive" if om.group(1) == "spark_catalog" else om.group(1),
            "schemaTable": {"schema": om.group(2), "table": om.group(3)},
        }
    else:
        om = re.search(r"InsertIntoHadoopFsRelationCommand ([^\s,(]+),", plan_text)
        if om:
            dest = om.group(1).rstrip("/").rsplit("/", 1)[-1]
            out["outputTable"] = {
                "catalog": "hive",
                "schemaTable": {"schema": "default", "table": dest},
            }
    return json.dumps(out, indent=2)


def executed_operators(df: DataFrame) -> list[tuple[int, str, dict[str, int]]]:
    """Execute the query, then walk its final physical plan: one
    (depth, operator name, runtime SQL metrics) per operator, in
    pre-order.  A scan of files rather than a table is named by the
    files it reads (``Scan parquet lineitem.parquet``)."""
    qe = df._jdf.queryExecution()
    # run THROUGH this QueryExecution (a sink write would build its own
    # and leave these metrics untouched); toRdd().count() streams
    # executor-side, nothing materializes on the driver
    qe.toRdd().count()
    ops: list[tuple[int, str, dict[str, int]]] = []

    def walk(node, depth: int) -> None:
        mets = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            mets[kv._1()] = kv._2().value()
        name = node.nodeName()
        if name.endswith(" ") and node.getClass().getSimpleName() == "FileSourceScanExec":
            paths = node.relation().location().rootPaths()
            name += ",".join(paths.apply(i).getName() for i in range(paths.size()))
        ops.append((depth, name, mets))
        # AQE roots and query-stage wrappers hide the executed subtree
        # behind accessor methods rather than children()
        for accessor in ("executedPlan", "plan"):
            try:
                walk(getattr(node, accessor)(), depth + 1)
                return
            except Exception:
                pass
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), depth + 1)

    walk(qe.executedPlan(), 0)
    return ops


def explain_analyze(df: DataFrame) -> str:
    """EXPLAIN ANALYZE (ExplainAnalyzeOperator.java): execute the query,
    then report the final physical plan with each operator's runtime
    SQL metrics (rows, spill, build/probe times) inline — the reference
    prints per-operator stats the same way."""
    lines = []
    for depth, name, mets in executed_operators(df):
        parts = ", ".join(f"{k}={v}" for k, v in mets.items())
        lines.append("  " * depth + name + (f"  [{parts}]" if parts else ""))
    return "\n".join(lines)


def set_session(spark: SparkSession, key: str, value: str) -> None:
    """SET SESSION k=v (SetSessionTask.java) → runtime-mutable Spark conf."""
    spark.conf.set(key, value)


def show_stats(spark: SparkSession, table: str) -> DataFrame:
    """SHOW STATS FOR <table> (grammar SqlBase.g4 showStats;
    metadata/MetadataManager.getTableStatistics): per-column
    distinct-count / null-fraction / min / max plus the row count, all
    from ONE aggregation pass (approx_count_distinct per column — the
    same NDV sketch the reference's stats calculator uses).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType, StringType

    df = spark.table(table) if isinstance(table, str) else table
    aggs: list = [F.count(F.lit(1)).alias("__rows")]
    numeric_or_str = []
    for f in df.schema.fields:
        aggs.append(F.approx_count_distinct(f.name).alias(f"__ndv_{f.name}"))
        aggs.append(
            F.avg(F.col(f.name).isNull().cast("double")).alias(f"__nullfrac_{f.name}")
        )
        if isinstance(f.dataType, (NumericType, StringType)):
            numeric_or_str.append(f.name)
            aggs.append(F.min(f.name).cast("string").alias(f"__lo_{f.name}"))
            aggs.append(F.max(f.name).cast("string").alias(f"__hi_{f.name}"))
    row = df.agg(*aggs).collect()[0]
    out = [
        (
            f.name,
            int(row[f"__ndv_{f.name}"]),
            float(row[f"__nullfrac_{f.name}"]),
            row[f"__lo_{f.name}"] if f.name in numeric_or_str else None,
            row[f"__hi_{f.name}"] if f.name in numeric_or_str else None,
            int(row["__rows"]),
        )
        for f in df.schema.fields
    ]
    return spark.createDataFrame(
        out,
        "column_name string, distinct_values_count bigint, nulls_fraction double, "
        "low_value string, high_value string, row_count bigint",
    )


# --- views (round 11) ---------------------------------------------------
# Reference: grammar SqlBase.g4:55 (createView) / :71 (dropView),
# execution/CreateViewTask.java, DropViewTask.java; semantics exercised
# by presto-tests/.../AbstractTestDistributedQueries.java:609 testView,
# :633 testViewCaseSensitivity, :684 testViewMetadata.  Spark's session
# catalog supports persistent views natively; the presto dialect shim
# translates the defining query's function surface first.


def create_view(
    spark: SparkSession,
    name: str,
    query: str,
    or_replace: bool = False,
    dialect: str = "spark",
) -> None:
    """CREATE [OR REPLACE] VIEW <name> AS <query> (CreateViewTask.java).

    Spark's catalog stores the defining text itself ('View Text' in
    DESCRIBE EXTENDED) — ``show_create_view`` / information_schema.views
    read it back from there, like the reference stores the view's
    definition verbatim in its ViewDefinition JSON.  With
    dialect="presto" the stored text is the TRANSLATED query (Spark
    must re-analyze it natively per read).  A persistent view cannot
    reference the temporary functions ``sql_support.ensure`` creates, so
    one that calls them fails with INVALID_TEMP_OBJ_REFERENCE;
    ``Engine.sql``'s CREATE VIEW makes a temporary view, which can."""
    if dialect == "presto":
        from prestodb_presto_spark.dialect import translate
        from prestodb_presto_spark.functions.sql_support import ensure

        query = translate(query)
        ensure(spark, query)
    rep = "OR REPLACE " if or_replace else ""
    spark.sql(f"CREATE {rep}VIEW {name} AS {query}")


def drop_view(spark: SparkSession, name: str, if_exists: bool = False) -> None:
    """DROP VIEW [IF EXISTS] <name> (DropViewTask.java).  Raises on a
    missing view unless ``if_exists`` — matching the reference's
    'View ... does not exist' error path."""
    spark.sql(f"DROP VIEW {'IF EXISTS ' if if_exists else ''}{name}")


def view_definition(spark: SparkSession, name: str) -> str:
    """The view's defining query text (information_schema.views
    view_definition; metadata/ViewDefinition.java).  Read from the
    catalog's view-text property (DESCRIBE TABLE EXTENDED 'View Text')."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    for r in rows:
        if r.col_name == "View Text":
            return r.data_type
    raise ValueError(f"{name} is not a view")


def show_create_view(spark: SparkSession, name: str) -> str:
    """SHOW CREATE VIEW <name> → 'CREATE VIEW <name> AS <query>'
    (ShowQueriesRewrite SHOW CREATE VIEW path; grammar SqlBase.g4)."""
    return f"CREATE VIEW {name} AS {view_definition(spark, name)}"


# --- ALTER TABLE / schema DDL (round 11) --------------------------------
# Reference: execution/RenameTableTask.java, AddColumnTask.java,
# RenameColumnTask.java, DropColumnTask.java, CreateSchemaTask.java,
# DropSchemaTask.java, ResetSessionTask.java.  Spark's V1 session
# catalog handles RENAME TO / ADD COLUMNS / CREATE+DROP SCHEMA natively;
# RENAME/DROP COLUMN are V2-catalog ops, so on raw-parquet managed
# tables they run as a rewrite (read → project → overwrite) — on a
# production lake format (Delta/Iceberg) the same statements are
# metadata-only and this fallback never triggers.


def rename_table(spark: SparkSession, old: str, new: str) -> None:
    """ALTER TABLE <old> RENAME TO <new> (RenameTableTask.java)."""
    spark.sql(f"ALTER TABLE {old} RENAME TO {new}")


def add_column(spark: SparkSession, table: str, column: str, dtype: str) -> None:
    """ALTER TABLE <t> ADD COLUMN <c> <type> (AddColumnTask.java).
    Metadata-only: existing parquet files lack the column, which reads
    back as NULL — the reference's hive connector behaves identically."""
    spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({column} {dtype})")


def _rewrite_table(spark: SparkSession, table: str, df: DataFrame) -> None:
    """Replace a managed table's contents with ``df``, DURABLY: stage
    the full rewrite into a temporary table first (reading ``table`` and
    writing a *different* name, so no self-overwrite and no
    materialization boundary needed), then swap with metadata-only
    DROP + RENAME.  A crash mid-write leaves the original untouched; a
    crash between DROP and RENAME leaves the complete data in the tmp
    table, recoverable by hand — never the prior form's window where
    the table was dropped while the new copy existed only in
    session-local checkpoint blocks.  The reference's *Task.java DDL is
    metadata-atomic (execution/RenameColumnTask.java); this is the
    closest a rewrite fallback gets."""
    tmp = f"{table}__rewrite_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    try:
        df.write.saveAsTable(tmp)
    except Exception:
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        raise
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")


def rename_column(spark: SparkSession, table: str, old: str, new: str) -> None:
    """ALTER TABLE <t> RENAME COLUMN <old> TO <new>
    (RenameColumnTask.java).  V1 parquet tables don't support the
    metadata-only form, so this rewrites; see module note above."""
    try:
        spark.sql(f"ALTER TABLE {table} RENAME COLUMN {old} TO {new}")
    except Exception:
        _rewrite_table(spark, table, spark.table(table).withColumnRenamed(old, new))


def drop_column(spark: SparkSession, table: str, column: str) -> None:
    """ALTER TABLE <t> DROP COLUMN <c> (DropColumnTask.java; the
    only-column guard matches AbstractTestDistributedQueries.java:382)."""
    cols = spark.table(table).columns
    if column not in cols:
        raise ValueError(f"column not found: {column}")
    if len(cols) == 1:
        raise ValueError("Cannot drop the only column in a table")
    try:
        spark.sql(f"ALTER TABLE {table} DROP COLUMN {column}")
    except Exception:
        _rewrite_table(spark, table, spark.table(table).drop(column))


def create_schema(spark: SparkSession, name: str, if_not_exists: bool = False) -> None:
    """CREATE SCHEMA [IF NOT EXISTS] <name> (CreateSchemaTask.java)."""
    spark.sql(f"CREATE SCHEMA {'IF NOT EXISTS ' if if_not_exists else ''}{name}")


def drop_schema(spark: SparkSession, name: str, cascade: bool = False) -> None:
    """DROP SCHEMA <name> [CASCADE] (DropSchemaTask.java).  Non-cascade
    fails on a non-empty schema, like the reference."""
    spark.sql(f"DROP SCHEMA {name}{' CASCADE' if cascade else ''}")


def reset_session(spark: SparkSession, key: str) -> None:
    """RESET SESSION <key> (ResetSessionTask.java) → unset back to the
    session default."""
    spark.conf.unset(key)


def rename_schema(spark: SparkSession, old: str, new: str) -> None:
    """ALTER SCHEMA <old> RENAME TO <new> (grammar SqlBase.g4:36
    renameSchema; RenameSchemaTask).  Spark has no ALTER DATABASE RENAME,
    so the equivalent is: create the target schema, move every table
    into it with ALTER TABLE RENAME (metadata-only — data files do not
    move for managed tables within a warehouse), drop the old schema.
    Fails loudly if the target already exists, like the reference.
    Spark's V1 session catalog refuses cross-database RENAME, so each
    table moves by rewrite (saveAsTable into the new schema, drop the
    old) — on a metastore-backed catalog supporting cross-db rename
    this would be metadata-only.
    Views are moved by re-creating them from their defining text in the
    new schema (a view's query can't be "rewritten" like table data);
    view moves happen AFTER all table moves so a view over a sibling
    table resolves, and every move writes/creates in the new schema
    BEFORE dropping from the old one — a mid-flight crash never loses
    an object."""
    dbs = [d.name for d in spark.catalog.listDatabases()]
    if old not in dbs:
        raise ValueError(f"Schema '{old}' does not exist")
    if new in dbs:
        raise ValueError(f"Schema '{new}' already exists")
    spark.sql(f"CREATE SCHEMA {new}")
    entries = [
        t for t in spark.catalog.listTables(old) if t.tableType != "TEMPORARY"
    ]  # listTables(db) also returns session temp views — skip those
    for t in entries:
        if t.tableType == "VIEW":
            continue
        spark.table(f"{old}.{t.name}").write.saveAsTable(f"{new}.{t.name}")
        spark.sql(f"DROP TABLE {old}.{t.name}")
    import re as _re

    from prestodb_presto_spark.engine import _outside_literals

    # r13 (ADVICE): rewrite old.→new. only OUTSIDE single-quoted string
    # literals — a literal like 'see old.note' must survive the move
    # verbatim (the span-skipping the system-table rewrite uses)
    old_prefix = _re.compile(rf"\b{_re.escape(old)}\.")

    def _rewrite_outside_literals(text: str) -> str:
        return _outside_literals(text, lambda seg: old_prefix.sub(f"{new}.", seg))

    # r13 (ADVICE): a view over a sibling view can only be recreated
    # after its dependency — recreate in dependency order by retrying
    # analysis failures until a fixpoint (cheap topological order; cycles
    # are impossible for views)
    pending = [t.name for t in entries if t.tableType == "VIEW"]
    texts = {
        name: _rewrite_outside_literals(view_definition(spark, f"{old}.{name}"))
        for name in pending
    }
    while pending:
        progressed = []
        errors: dict[str, Exception] = {}
        for name in pending:
            try:
                spark.sql(f"CREATE VIEW {new}.{name} AS {texts[name]}")
                progressed.append(name)
            except Exception as exc:  # dependency not yet moved — retry next round
                errors[name] = exc
        if not progressed:
            raise next(iter(errors.values()))
        pending = [n for n in pending if n not in progressed]
    for t in entries:
        if t.tableType == "VIEW":
            spark.sql(f"DROP VIEW {old}.{t.name}")
    spark.sql(f"DROP SCHEMA {old}")
