"""Engine: catalog bootstrap + SQL entry point.

Mirrors the reference's query lifecycle (SURVEY.md §3) Spark-first:
Presto's parse→analyze→optimize→schedule pipeline
(reference: presto-main/.../execution/SqlQueryExecution.java:168-409)
collapses to ``spark.sql`` — Catalyst is the analyzer/optimizer, the DAG
scheduler is the fragmenter/scheduler.  The Engine's job is only:

  - register the fixture tables as temp views (the "connector");
  - expose ``sql()`` / ``table()``;
  - own per-table scale metadata (which dims are broadcast-safe at 100 TB).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prestodb_presto_spark.functions._util import presto_literals

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def _outside_literals(text: str, sub: Callable[[str], str]) -> str:
    """``sub`` applied to the text between string literals: a rewrite of
    table names must never touch quoted data values."""
    from prestodb_presto_spark.dialect import _STRING_LIT

    # the literal kept whole by re.split: odd pieces are literals
    pieces = re.split(f"({_STRING_LIT.pattern})", text)
    return "".join(p if i % 2 else sub(p) for i, p in enumerate(pieces))


# Tables that stay small no matter the scale factor (TPC-H dims: region=5,
# nation=25 rows at every SF) — always broadcast-safe at 100 TB.
ALWAYS_BROADCAST = {"region", "nation"}


class Engine:
    """Session + catalog wrapper.

    >>> eng = Engine(spark, "/root/testdata/sf0.001")
    >>> eng.sql("SELECT count(*) AS n FROM lineitem")

    Build ``spark`` with ``session.get_spark``.  A session built any other
    way keeps Spark's 100-entry generated-class cache: the size is a
    static conf, fixed when the JVM starts, so ``Engine()`` cannot set it,
    and a working set of more than 100 classes then compiles again on
    every pass.
    """

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir: str | None = None
        # presto-dialect CREATE VIEW registry: name → original (pre-
        # translation) defining SQL.  The dialect maps catalog views to
        # session temp views (a permanent Spark view cannot reference the
        # temp-view fixture tables — documented deviation); the registry
        # supplies the reference's view metadata surface on top:
        # information_schema.tables table_type=VIEW, information_schema.
        # views view_definition, SHOW CREATE VIEW (reference
        # metadata/ViewDefinition.java, AbstractTestDistributedQueries.
        # java:684 testViewMetadata).
        self._views: dict[str, str] = {}
        # Presto map_concat keeps the LAST occurrence of a duplicated key
        # (MapConcatFunction); Spark's default errors on duplicates
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        try:
            # TIME-type gate for sessions not built by session.get_spark
            spark.conf.set("spark.sql.timeType.enabled", "true")
        except Exception:
            pass  # older Spark: TIME literals unavailable anyway
        if sf_dir:
            self.register(sf_dir)

    def register(self, sf_dir: str) -> "Engine":
        """Register every fixture table under ``sf_dir`` as a temp view."""
        from prestodb_presto_spark.queries.util import t as load_table

        for name in TABLES:
            load_table(self.spark, sf_dir, name).createOrReplaceTempView(name)
        self.sf_dir = sf_dir
        return self

    def table(self, name: str, broadcast: bool | None = None) -> DataFrame:
        df = self.spark.table(name)
        if broadcast or (broadcast is None and name in ALWAYS_BROADCAST):
            df = F.broadcast(df)
        return df

    def information_schema(self, view: str = "columns") -> DataFrame:
        """information_schema synthesis (reference
        presto-main/.../connector/informationSchema/): "tables" and
        "columns" views over the session catalog."""
        listed = sorted(self.spark.catalog.listTables(), key=lambda t: t.name)
        tables = [t.name for t in listed]
        catalog = self.spark.catalog.currentCatalog()
        schema = self.spark.catalog.currentDatabase()
        if view == "tables":
            # persistent views report table_type VIEW (reference
            # testViewMetadata, AbstractTestDistributedQueries.java:684);
            # temp views are the engine's registered fixture tables →
            # BASE TABLE, matching the reference's connector tables
            return self.spark.createDataFrame(
                [
                    (
                        catalog,
                        schema,
                        t.name,
                        "VIEW"
                        if (t.tableType == "VIEW" or t.name.lower() in self._views)
                        else "BASE TABLE",
                    )
                    for t in listed
                ],
                "table_catalog string, table_schema string, table_name string,"
                " table_type string",
            )
        if view == "views":
            # information_schema.views: name + original defining query
            # (reference metadata/ViewDefinition.java)
            from prestodb_presto_spark.ddl import view_definition

            rows = [
                (
                    catalog,
                    schema,
                    t.name,
                    self._views[t.name.lower()]
                    if t.name.lower() in self._views
                    else view_definition(self.spark, t.name),
                )
                for t in listed
                if t.tableType == "VIEW" or t.name.lower() in self._views
            ]
            return self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, table_name string,"
                " view_definition string",
            )
        if view == "columns":
            rows = [
                (catalog, schema, t, col.name, i + 1, col.dataType, col.nullable)
                for t in tables
                for i, col in enumerate(self.spark.catalog.listColumns(t))
            ]
            return self.spark.createDataFrame(
                rows,
                "table_catalog string, table_schema string, table_name string,"
                " column_name string, ordinal_position long, data_type string,"
                " is_nullable boolean",
            )
        if view == "table_privileges":
            return self.table_privileges()
        raise ValueError(f"unknown information_schema view {view!r}")

    def show_functions(self) -> DataFrame:
        """SHOW FUNCTIONS → one row per registry name (reference
        ShowQueriesRewrite SHOW FUNCTIONS path over FunctionRegistry)."""
        from prestodb_presto_spark import functions as freg

        return self.spark.createDataFrame(
            [(n,) for n in freg.coverage()], "function_name string"
        )

    def _view_ddl(self, text: str) -> DataFrame | None:
        """Presto view DDL statement routing (grammar SqlBase.g4:55,71;
        CreateViewTask.java / DropViewTask.java; ShowQueriesRewrite SHOW
        CREATE VIEW).  Returns None when ``text`` is not view DDL.

        Views live as session temp views (see ``_views`` in __init__);
        this layer supplies the reference's statement semantics: CREATE
        without OR REPLACE fails on an existing view, DROP without IF
        EXISTS fails on a missing one, and SHOW CREATE VIEW replays the
        original (pre-translation) definition text."""
        m = re.match(
            r"\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.`\"]+)\s+AS\s+(.*)",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            or_replace, name, body = bool(m.group(1)), m.group(2), m.group(3)
            key = name.strip('`"').split(".")[-1].lower()
            if not or_replace and key in self._views:
                raise ValueError(f"View already exists: {name}")
            with presto_literals(self.spark):
                out = self.spark.sql(self._translate(text))
            self._views[key] = body.strip().rstrip(";").strip()
            return out
        m = re.match(
            r"\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.`\"]+)\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            if_exists, name = bool(m.group(1)), m.group(2)
            key = name.strip('`"').split(".")[-1].lower()
            if key not in self._views:
                if if_exists:
                    return self.spark.range(0).select(F.lit(True).alias("ok")).limit(0)
                raise ValueError(f"View not found: {name}")
            del self._views[key]
            return self.spark.sql(f"DROP VIEW IF EXISTS {key}")
        m = re.match(
            r"\s*SHOW\s+CREATE\s+VIEW\s+([\w.`\"]+)\s*;?\s*$", text, re.IGNORECASE
        )
        if m:
            name = m.group(1)
            key = name.strip('`"').split(".")[-1].lower()
            if key not in self._views:
                raise ValueError(f"View not found: {name}")
            return self.spark.createDataFrame(
                [(f"CREATE VIEW {key} AS {self._views[key]}",)],
                "create_view string",
            )
        return self._session_stmt(text)

    def _system_catalog_stmt(self, text: str) -> DataFrame | None:
        """SHOW statements over the SYSTEM / JMX catalogs (reference
        connector/system/SystemConnectorModule.java, presto-jmx
        JmxMetadata.java; product-test suites catalog/ and system/).
        Presto's SHOW output shapes: SHOW CATALOGS → Catalog; SHOW
        SCHEMAS → Schema; SHOW TABLES → Table; SHOW COLUMNS → Column,
        Type, Extra, Comment.  Returns None when not one of them."""
        from prestodb_presto_spark.sources import system_tables as st

        m = re.match(
            r"\s*SHOW\s+CATALOGS(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$", text, re.IGNORECASE
        )
        if m:
            df = st.metadata_catalogs(self.spark).select(
                F.col("catalog_name").alias("Catalog")
            )
            if m.group(1):
                df = df.filter(F.col("Catalog").like(m.group(1)))
            return df.orderBy("Catalog")
        if re.match(r"\s*SHOW\s+SCHEMAS\s*;?\s*$", text, re.IGNORECASE):
            # every Presto catalog exposes a synthesized information_schema
            # alongside its real schemas (catalog suite showSchemas golden)
            names = sorted(
                {d.name for d in self.spark.catalog.listDatabases()}
                | {"information_schema"}
            )
            return self.spark.createDataFrame([(n,) for n in names], "Schema string")
        m = re.match(
            r"\s*SHOW\s+SCHEMAS\s+(?:FROM|IN)\s+(system|jmx|tpch)\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            which = m.group(1).lower()
            if which == "system":
                names = st.SYSTEM_SCHEMAS
            elif which == "jmx":
                names = ["current", "history"]  # JmxConnectorFactory schemas
            else:
                # presto-tpch TpchMetadata.java:90 SCHEMA_NAMES (+ the
                # synthesized information_schema every catalog carries)
                names = [
                    "information_schema", "tiny", "sf1", "sf100", "sf300",
                    "sf1000", "sf3000", "sf10000", "sf30000", "sf100000",
                ]
            return self.spark.createDataFrame(
                [(n,) for n in names], "Schema string"
            )
        m = re.match(
            r"\s*SHOW\s+TABLES\s+(?:FROM|IN)\s+tpch\.(\w+)\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            # presto-tpch table list (TpchTable enum) — identical in
            # every sf schema
            names = sorted(
                ("customer", "lineitem", "nation", "orders",
                 "part", "partsupp", "region", "supplier")
            )
            return self.spark.createDataFrame([(n,) for n in names], "Table string")
        m = re.match(
            r"\s*SHOW\s+TABLES\s+(?:FROM|IN)\s+"
            r"(?:system\.(\w+)|(jmx)\.(?:current|history))\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            if m.group(2):
                names = st.JMX_TABLES
            else:
                schema = m.group(1).lower()
                if schema not in st.SYSTEM_MODEL:
                    raise ValueError(f"Schema not found: system.{schema}")
                names = sorted(st.SYSTEM_MODEL[schema])
            return self.spark.createDataFrame([(n,) for n in names], "Table string")
        m = re.match(
            r"\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+"
            r"(?:system\.(\w+)\.(\w+)|jmx\.(current|history)\.\"([^\"]+)\")\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            if m.group(4):
                fn = st.jmx_history if m.group(3).lower() == "history" else st.jmx_current
                df = fn(self.spark, m.group(4))
                rows = [
                    (f.name, f.dataType.simpleString(), "", "") for f in df.schema.fields
                ]
            else:
                schema, table = m.group(1).lower(), m.group(2).lower()
                cols = st.SYSTEM_MODEL.get(schema, {}).get(table)
                if cols is None:
                    raise ValueError(f"Table not found: system.{schema}.{table}")
                rows = [(n, t, "", "") for n, t in cols]
            return self.spark.createDataFrame(
                rows, "Column string, Type string, Extra string, Comment string"
            )
        return None

    def _rewrite_system_tables(self, text: str) -> str:
        """Rewrite system.<schema>.<table> / jmx.current."bean" table
        references to synthesized temp views (temp views can't be
        catalog-qualified in Spark) — string literals are skipped, same
        contract as the information_schema rewrite."""
        pat = re.compile(
            r"(?<![\w.])system\.(information_schema|runtime|metadata)\.(\w+)",
            re.IGNORECASE,
        )
        jpat = re.compile(r'(?<![\w.])jmx\.(current|history)\."([^"]+)"', re.IGNORECASE)
        from prestodb_presto_spark.sources import system_tables as st

        def _sys_repl(m):
            schema, table = m.group(1).lower(), m.group(2).lower()
            view = f"__system_{schema}_{table}"
            st.system_table(self.spark, schema, table).createOrReplaceTempView(view)
            return view

        def _jmx_repl(m):
            schema, bean = m.group(1).lower(), m.group(2)
            view = f"__jmx_{schema}_" + re.sub(r"\W+", "_", bean.lower()).strip("_")
            fn = st.jmx_history if schema == "history" else st.jmx_current
            fn(self.spark, bean).createOrReplaceTempView(view)
            return view

        return _outside_literals(
            text, lambda seg: jpat.sub(_jmx_repl, pat.sub(_sys_repl, seg))
        )

    def _session_stmt(self, text: str) -> DataFrame | None:
        """Presto session/metadata statements with no Spark-parser
        spelling (grammar SqlBase.g4; execution/SetSessionTask.java,
        ResetSessionTask.java, ShowQueriesRewrite SHOW SESSION / SHOW
        STATS / SHOW CREATE TABLE).  Returns None when ``text`` is not
        one of them."""
        out = self._system_catalog_stmt(text)
        if out is not None:
            return out
        m = re.match(
            r"\s*SET\s+SESSION\s+([\w.]+)\s*=\s*(.+?)\s*;?\s*$", text, re.IGNORECASE
        )
        if m:
            key, raw = m.group(1), m.group(2).strip()
            if raw.startswith("'") and raw.endswith("'"):
                raw = raw[1:-1].replace("''", "'")
            self.spark.conf.set(key, raw)
            return self.spark.createDataFrame([(True,)], "result boolean")
        m = re.match(r"\s*RESET\s+SESSION\s+([\w.]+)\s*;?\s*$", text, re.IGNORECASE)
        if m:
            self.spark.conf.unset(m.group(1))
            return self.spark.createDataFrame([(True,)], "result boolean")
        if re.match(r"\s*SHOW\s+SESSION\s*;?\s*$", text, re.IGNORECASE):
            # Presto lists (name, value, default, type, description); the
            # runtime-set Spark confs are the session-property analog
            rows = self.spark.sql("SET").collect()
            return self.spark.createDataFrame(
                [(r.key, r.value) for r in rows], "name string, value string"
            ).orderBy("name")
        m = re.match(
            r"\s*SHOW\s+STATS\s+(?:FOR|ON)\s+([\w.`\"]+)\s*;?\s*$", text, re.IGNORECASE
        )
        if m:
            from prestodb_presto_spark.ddl import show_stats

            return show_stats(self.spark, m.group(1).strip('`"'))
        m = re.match(
            r"\s*SHOW\s+STATS\s+FOR\s*\((.+)\)\s*;?\s*$",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # showStatsForQuery (grammar SqlBase.g4:77): stats of an
            # arbitrary query's result
            from prestodb_presto_spark.ddl import show_stats

            with presto_literals(self.spark):
                df = self.spark.sql(self._translate(m.group(1).strip()))
            return show_stats(self.spark, df)
        m = re.match(
            r"\s*PREPARE\s+(\w+)\s+FROM\s+(.+)$", text, re.IGNORECASE | re.DOTALL
        )
        if m:
            self.prepare(m.group(1), m.group(2).strip().rstrip(";"), dialect="presto")
            return self.spark.createDataFrame([(True,)], "result boolean")
        m = re.match(r"\s*DEALLOCATE\s+PREPARE\s+(\w+)\s*;?\s*$", text, re.IGNORECASE)
        if m:
            name = m.group(1)
            if not getattr(self, "_prepared", None) or name not in self._prepared:
                raise KeyError(f"prepared statement not found: {name}")
            del self._prepared[name]
            return self.spark.createDataFrame([(True,)], "result boolean")
        m = re.match(
            r"\s*EXECUTE\s+(\w+)(?:\s+USING\s+(.+))?\s*;?\s*$",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            params = []
            if m.group(2):
                with presto_literals(self.spark):
                    row = self.spark.sql(
                        f"SELECT {m.group(2)}"
                    ).collect()[0]
                params = list(row)
            return self.execute(m.group(1), *params)
        m = re.match(
            r"\s*DESCRIBE\s+(INPUT|OUTPUT)\s+(\w+)\s*;?\s*$", text, re.IGNORECASE
        )
        if m:
            kind, name = m.group(1).upper(), m.group(2)
            return (
                self.describe_input(name) if kind == "INPUT" else self.describe_output(name)
            )
        m = re.match(r"\s*USE\s+([\w.]+)\s*;?\s*$", text, re.IGNORECASE)
        if m:
            # grammar SqlBase.g4 `use`: USE schema | USE catalog.schema.
            # Spark's session catalog is the single catalog here, so the
            # schema part maps to the current database; later unqualified
            # names resolve inside it (metadata/SessionPropertyManager
            # session catalog/schema analog).
            parts = m.group(1).split(".")
            schema = parts[-1]
            dbs = [d.name for d in self.spark.catalog.listDatabases()]
            if schema not in dbs:
                raise ValueError(f"Schema does not exist: {m.group(1)}")
            self.spark.catalog.setCurrentDatabase(schema)
            return self.spark.createDataFrame([(True,)], "result boolean")
        if re.match(
            r"\s*(START\s+TRANSACTION|COMMIT|ROLLBACK)\b", text, re.IGNORECASE
        ):
            # documented by-design skip (COVERAGE.md): no transactional
            # storage in scope — fail with the reason, not a parse error
            raise NotImplementedError(
                "transactions are not supported: this engine targets "
                "immutable parquet lakes (COVERAGE.md 'transactions'); "
                "use a transactional table format (Delta/Iceberg) for "
                "multi-statement atomicity"
            )
        m = re.match(r"\s*SET\s+PATH\s+(.+?)\s*;?\s*$", text, re.IGNORECASE)
        if m:
            # SetPathTask: session path for function resolution — the
            # engine's registry is flat, so the path is bookkeeping only
            self._session_path = m.group(1).strip()
            return self.spark.createDataFrame([(True,)], "result boolean")
        m = re.match(
            r"\s*CALL\s+([\w.]+)\s*\((.*)\)\s*;?\s*$", text, re.IGNORECASE | re.DOTALL
        )
        if m:
            return self._call_procedure(m.group(1), m.group(2))
        out = self._grant_stmt(text)
        if out is not None:
            return out
        m = re.match(
            r"\s*EXPLAIN\s+(?:\(([^)]*\bTYPE\s+\w+[^)]*)\)|(ANALYZE))\s+(.+)$",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            # Presto EXPLAIN (TYPE LOGICAL|DISTRIBUTED|VALIDATE|IO[,
            # FORMAT ...]) and EXPLAIN ANALYZE (grammar SqlBase.g4:68;
            # ExplainTask.java / ExplainAnalyzeOperator.java).  Plain
            # EXPLAIN <q> parses natively in Spark and is NOT
            # intercepted; FORMAT is accepted and ignored (text only).
            from prestodb_presto_spark.ddl import explain, explain_analyze, explain_io

            if m.group(1):
                tm = re.search(r"\bTYPE\s+(\w+)", m.group(1), re.IGNORECASE)
                etype = tm.group(1).upper()
            else:
                etype = "ANALYZE"
            inner = m.group(3).strip().rstrip(";")
            inner_kw = re.match(r"\s*\(*\s*(\w+)", inner).group(1).upper()
            # statement classification mirrors StatementUtils.getQueryType
            # (presto-main/.../StatementUtils.java): queries are lazy in
            # Spark, DML executes eagerly, everything else is DDL
            is_query = inner_kw in ("SELECT", "WITH", "TABLE", "VALUES")
            is_ctas = bool(
                re.match(
                    r"\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\b.*\bAS\b",
                    inner,
                    re.IGNORECASE | re.DOTALL,
                )
            )
            is_dml = inner_kw in ("INSERT", "DELETE", "UPDATE") or is_ctas
            if etype == "ANALYZE":
                if not (is_query or is_dml):
                    # SqlQueryManager.java:441 — only DATA_DEFINITION
                    # statements are rejected; INSERT/DELETE/CTAS run
                    raise ValueError(
                        f"EXPLAIN ANALYZE doesn't support statement type: {inner_kw}"
                    )
                # EXPLAIN ANALYZE executes the statement by definition
                # (ExplainAnalyzeOperator.java) — eager for DML, driven
                # by explain_analyze for queries
                with presto_literals(self.spark):
                    df = self.spark.sql(self._translate(inner))
                plan = explain_analyze(df)
                return self.spark.createDataFrame([(plan,)], "query_plan string")
            if not is_query:
                # ExplainTask.java only PLANS the inner statement — a
                # side-effecting statement must never execute, so route
                # through Spark's own EXPLAIN command (verified: it
                # analyzes+plans INSERT/DDL without running them and
                # reports analysis errors as text)
                mode_kw = "EXTENDED" if etype == "LOGICAL" else "FORMATTED"
                with presto_literals(self.spark):
                    plan = self.spark.sql(
                        f"EXPLAIN {mode_kw} {self._translate(inner)}"
                    ).collect()[0][0]
                if plan.startswith("Error occurred during query planning"):
                    raise ValueError(plan)
                if etype == "VALIDATE":
                    return self.spark.createDataFrame([(True,)], "valid boolean")
                if etype == "IO":
                    plan = explain_io(plan)
                elif etype not in ("LOGICAL", "DISTRIBUTED"):
                    raise ValueError(f"unknown EXPLAIN type: {etype}")
                return self.spark.createDataFrame([(plan,)], "query_plan string")
            with presto_literals(self.spark):
                df = self.spark.sql(self._translate(inner))
            if etype == "VALIDATE":
                # analysis already succeeded above — the reference
                # returns a single `valid: true` row
                return self.spark.createDataFrame([(True,)], "valid boolean")
            if etype == "LOGICAL":
                plan = explain(df, "extended")
            elif etype == "DISTRIBUTED":
                plan = explain(df, "formatted")
            elif etype == "IO":
                # IOPlanPrinter.java: JSON of input tables, read columns,
                # pushed constraints — derived from the executable plan
                plan = explain_io(explain(df, "formatted"))
            else:
                raise ValueError(f"unknown EXPLAIN type: {etype}")
            return self.spark.createDataFrame([(plan,)], "query_plan string")
        m = re.match(
            r"\s*SHOW\s+CREATE\s+TABLE\s+([\w.`\"]+)\s*;?\s*$", text, re.IGNORECASE
        )
        if m:
            name = m.group(1).strip('`"')
            try:
                # catalog tables/persistent views: Spark's native command
                return self.spark.sql(f"SHOW CREATE TABLE {name}")
            except Exception:
                # temp-view fixture tables: synthesize from the schema,
                # like the reference renders connector tables' metadata
                fields = ",\n   ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in self.spark.table(name).schema.fields
                )
                return self.spark.createDataFrame(
                    [(f"CREATE TABLE {name} (\n   {fields}\n)",)],
                    "create_table string",
                )
        return None

    # --- GRANT / REVOKE / SHOW GRANTS (execution/GrantTask.java,
    # RevokeTask.java; spi/security/Privilege.java: SELECT, DELETE,
    # INSERT, UPDATE).  Session-scoped privilege BOOKKEEPING surfaced
    # through information_schema.table_privileges — a Spark library has
    # no multi-user execution context, so enforcement belongs to the
    # lake's access layer; the statements, the privilege model, and the
    # metadata surface match the reference. -----------------------------

    _PRIVILEGES = ("SELECT", "DELETE", "INSERT", "UPDATE")

    def _grants(self) -> dict:
        if not hasattr(self, "_grants_map"):
            # (grantee, table) -> {privilege: is_grantable}
            self._grants_map: dict[tuple[str, str], dict[str, bool]] = {}
        return self._grants_map

    def _grant_stmt(self, text: str) -> DataFrame | None:
        m = re.match(
            r"\s*GRANT\s+(.+?)\s+ON\s+(?:TABLE\s+)?([\w.]+)\s+TO\s+([\w\"]+)"
            r"(\s+WITH\s+GRANT\s+OPTION)?\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            privs, table, grantee, opt = (
                m.group(1),
                m.group(2).lower(),
                m.group(3).strip('"').lower(),
                bool(m.group(4)),
            )
            if not self.spark.catalog.tableExists(table):
                raise ValueError(f"Table '{table}' does not exist")
            plist = self._parse_privileges(privs)
            slot = self._grants().setdefault((grantee, table), {})
            for p in plist:
                slot[p] = opt
            return self.spark.createDataFrame([(True,)], "result boolean")
        m = re.match(
            r"\s*REVOKE\s+(GRANT\s+OPTION\s+FOR\s+)?(.+?)\s+ON\s+(?:TABLE\s+)?"
            r"([\w.]+)\s+FROM\s+([\w\"]+)\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            opt_only, privs, table, grantee = (
                bool(m.group(1)),
                m.group(2),
                m.group(3).lower(),
                m.group(4).strip('"').lower(),
            )
            if not self.spark.catalog.tableExists(table):
                raise ValueError(f"Table '{table}' does not exist")
            slot = self._grants().get((grantee, table), {})
            for p in self._parse_privileges(privs):
                if opt_only:
                    if p in slot:
                        slot[p] = False
                else:
                    slot.pop(p, None)
            return self.spark.createDataFrame([(True,)], "result boolean")
        m = re.match(
            r"\s*SHOW\s+GRANTS(?:\s+ON\s+(?:TABLE\s+)?([\w.]+))?\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if m:
            table = m.group(1).lower() if m.group(1) else None
            return self.table_privileges(table)
        return None

    def _parse_privileges(self, privs: str) -> list[str]:
        if privs.strip().upper() in ("ALL PRIVILEGES", "ALL"):
            return list(self._PRIVILEGES)  # GrantTask.java:66
        out = []
        for p in privs.split(","):
            p = p.strip().upper()
            if p not in self._PRIVILEGES:
                raise ValueError(f"Unknown privilege: {p}")
            out.append(p)
        return out

    def table_privileges(self, table: str | None = None) -> DataFrame:
        """information_schema.table_privileges
        (InformationSchemaMetadata.java:106 column set)."""
        catalog = self.spark.catalog.currentCatalog()
        schema = self.spark.catalog.currentDatabase()
        rows = [
            ("system", grantee, catalog, schema, tbl, priv, grantable, False)
            for (grantee, tbl), slot in sorted(self._grants().items())
            for priv, grantable in sorted(slot.items())
            if table is None or tbl == table
        ]
        return self.spark.createDataFrame(
            rows,
            "grantor string, grantee string, table_catalog string,"
            " table_schema string, table_name string, privilege_type string,"
            " is_grantable boolean, with_hierarchy boolean",
        )

    # --- CALL procedures (execution/CallTask.java; metadata/
    # ProcedureRegistry.java) -------------------------------------------
    # Built-ins mirror the reference's system procedures on their Spark
    # analogs; register_procedure adds connector-style ones.

    def register_procedure(self, name: str, arg_names: list[str], fn) -> None:
        """Register a CALL-able procedure (spi/procedure/Procedure.java:
        name + declared argument names + method handle)."""
        if not hasattr(self, "_procedures"):
            self._procedures: dict[str, tuple[list[str], object]] = {}
        self._procedures[name.lower()] = (list(arg_names), fn)

    def _builtin_procedures(self):
        spark = self.spark

        def kill_query(query_id: str):
            # KillQueryProcedure.java:55 — cancel by id; Spark's query id
            # is the job group tag
            spark.sparkContext.cancelJobGroup(str(query_id))

        def refresh_table(table: str):
            # the metadata-cache flush procedures' Spark analog
            spark.catalog.refreshTable(table)

        def repair_partitions(table: str):
            # hive sync_partition_metadata analog: reconcile catalog
            # partitions with the filesystem layout
            spark.sql(f"MSCK REPAIR TABLE {table}")

        return {
            "system.runtime.kill_query": (["query_id"], kill_query),
            "system.refresh_table": (["table_name"], refresh_table),
            "system.repair_partitions": (["table_name"], repair_partitions),
        }

    def _call_procedure(self, name: str, argtext: str) -> DataFrame:
        """CallTask.java argument semantics: positional OR named
        (``name => value``) — mixing forbidden, duplicate and unknown
        names rejected; literal values only (the reference folds
        expressions to constants first)."""
        procs = dict(self._builtin_procedures())
        procs.update(getattr(self, "_procedures", {}))
        proc = procs.get(name.lower())
        if proc is None:
            raise ValueError(f"Procedure not registered: {name}")
        arg_names, fn = proc

        from prestodb_presto_spark.dialect import _STRING_LIT, _split_top_level

        def lit(v: str):
            v = v.strip()
            if _STRING_LIT.fullmatch(v):
                return v[1:-1].replace("''", "'")
            if v.upper() == "NULL":
                return None
            if v.upper() in ("TRUE", "FALSE"):
                return v.upper() == "TRUE"
            if re.fullmatch(r"-?\d+", v):
                return int(v)
            if re.fullmatch(r"-?\d*\.\d+([eE][+-]?\d+)?", v):
                return float(v)
            raise ValueError(f"CALL arguments must be literals, got: {v!r}")

        # top-level commas split (string literals may hold commas); a
        # trailing empty argument is dropped
        parts = _split_top_level(argtext)
        if not parts[-1].strip():
            parts.pop()

        named = [p for p in parts if "=>" in p.split("'", 1)[0]]
        if named and len(named) != len(parts):
            raise ValueError("Named and positional arguments cannot be mixed")
        if named:
            kwargs: dict[str, object] = {}
            for p in parts:
                k, v = p.split("=>", 1)
                k = k.strip()
                if k in kwargs:
                    raise ValueError(f"Duplicate procedure argument: {k}")
                if k not in arg_names:
                    raise ValueError(f"Unknown argument name: {k}")
                kwargs[k] = lit(v)
            # r14 (ADVICE): bind by DECLARED POSITION, not Python keyword —
            # the declared argument names (spi Procedure metadata) need not
            # match the callable's parameter names (e.g. built-ins declare
            # 'table_name' but the callable's parameter is 'table'; the r13
            # fn(**kwargs) form raised TypeError there).  Unset optionals
            # fall back to the callable's own defaults, matching
            # CallTask.java which fills unset arguments with the declared
            # default values.
            import inspect

            try:
                params = list(inspect.signature(fn).parameters.values())
            except (TypeError, ValueError):
                params = []
            call_args = []
            for i, declared in enumerate(arg_names):
                if declared in kwargs:
                    call_args.append(kwargs[declared])
                elif i < len(params) and params[i].default is not inspect.Parameter.empty:
                    call_args.append(params[i].default)
                else:
                    raise ValueError(f"Missing required procedure argument: {declared}")
            fn(*call_args)
            return self.spark.createDataFrame([(True,)], "result boolean")
        args = [lit(p) for p in parts]
        fn(*args)
        return self.spark.createDataFrame([(True,)], "result boolean")

    def _translate(self, text: str) -> str:
        """Presto-dialect ``text`` as Spark SQL; the session functions
        it calls (functions/sql_support.py) are created in this engine's
        session first."""
        from prestodb_presto_spark.dialect import translate
        from prestodb_presto_spark.functions.sql_support import ensure

        out = translate(text)
        ensure(self.spark, out)
        return out

    def sql(self, text: str, dialect: str = "spark", args=None) -> DataFrame:
        """Run SQL.  dialect="presto" first applies the dialect shim
        (prestodb_presto_spark.dialect) for the function-name collisions;
        everything else is already Spark-compatible.  ``args`` binds
        named (:name / dict) or positional (? / list) parameters via
        Spark's parameterized SQL."""
        if dialect == "presto":
            handled = self._view_ddl(text)
            if handled is not None:
                return handled
            low0 = text.lower()
            if re.search(
                r"\bsystem\.(information_schema|runtime|metadata)\.", low0
            ) or re.search(r"\bjmx\.(current|history)\.", low0):
                # must run BEFORE the generic information_schema rewrite,
                # which would otherwise swallow system.information_schema
                # as a catalog-qualified hive reference
                text = self._rewrite_system_tables(text)
            if "information_schema." in text.lower():
                # materialize the synthesized metadata views under plain
                # names (temp views can't be schema-qualified in Spark).
                # The rewrite skips string literals and consumes an
                # optional catalog qualifier (hive.information_schema.t),
                # but never rewrites across other dotted prefixes.
                pat = re.compile(
                    r"(?<![\w.])(?:[A-Za-z_]\w*\.)?"
                    r"information_schema\.(tables|columns|views|table_privileges)\b",
                    re.IGNORECASE,
                )
                found = set()

                def _repl(m):
                    found.add(m.group(1).lower())
                    return f"__information_schema_{m.group(1).lower()}"

                text = _outside_literals(text, lambda seg: pat.sub(_repl, seg))
                for view in found:
                    self.information_schema(view).createOrReplaceTempView(
                        f"__information_schema_{view}"
                    )
            if "sys.example" in text.lower():
                # the example system table (reference
                # presto-tests/.../tpch/ExampleSystemTable.java:33 — one
                # VARCHAR row 'test'); temp views can't be
                # schema-qualified, so route to a plain name.  String
                # literals are skipped.
                self.spark.sql("SELECT 'test' AS name").createOrReplaceTempView(
                    "__sys_example"
                )
                pat2 = re.compile(r"(?i)(?<![\w.])sys\.example\b")
                text = _outside_literals(text, lambda seg: pat2.sub("__sys_example", seg))
            text = self._translate(text)
            with presto_literals(self.spark):
                # spark.sql parses/analyzes eagerly, so the raw-literal
                # mode only covers this statement
                if args is not None:
                    return self.spark.sql(text, args=args)
                return self.spark.sql(text)
        if args is not None:
            return self.spark.sql(text, args=args)
        return self.spark.sql(text)

    # --- prepared statements (PREPARE / EXECUTE / DEALLOCATE) ---------------
    # Reference: grammar SqlBase.g4:31-98, execution/PrepareTask.java /
    # ExecuteTask.  Spark has no server-side statement cache; the engine
    # keeps the (dialect-translated) text per name and binds positional
    # `?` parameters through Spark's parameterized sql() at execute time,
    # which preserves Catalyst plan caching for repeated shapes.

    def prepare(self, name: str, text: str, dialect: str = "spark") -> None:
        """PREPARE <name> FROM <query> — translation happens once here."""
        if dialect == "presto":
            text = self._translate(text)
        if not hasattr(self, "_prepared"):
            self._prepared: dict[str, tuple[str, bool]] = {}
        # remember the dialect: raw-literal parsing must apply at every
        # later parse of this text (execute/describe), not just here
        self._prepared[name] = (text, dialect == "presto")

    def _run_prepared(self, name: str, args=None) -> DataFrame:
        text, is_presto = self._prepared[name]
        if is_presto:
            with presto_literals(self.spark):
                return self.spark.sql(text, args=args) if args else self.spark.sql(text)
        return self.spark.sql(text, args=args) if args else self.spark.sql(text)

    def execute(self, name: str, *params) -> DataFrame:
        """EXECUTE <name> [USING param, ...] — binds `?` positionally."""
        if not getattr(self, "_prepared", None) or name not in self._prepared:
            raise KeyError(f"prepared statement not found: {name}")
        return self._run_prepared(name, list(params) if params else None)

    @staticmethod
    def _count_params(text: str) -> int:
        """Count positional `?` markers outside single-quoted literals
        (a '?' inside a string literal is text, not a parameter)."""
        from prestodb_presto_spark.dialect import _STRING_LIT

        return _STRING_LIT.sub("", text).count("?")

    def describe_output(self, name: str) -> DataFrame:
        """DESCRIBE OUTPUT <name> (tree/DescribeOutput.java;
        DescribeOutputRewrite): column name + inferred type of each
        output column of the prepared query — analysis only, nothing
        executes (parameters bind as typed NULLs for inference)."""
        if not getattr(self, "_prepared", None) or name not in self._prepared:
            raise KeyError(f"prepared statement not found: {name}")
        n_params = self._count_params(self._prepared[name][0])
        df = self._run_prepared(name, [None] * n_params if n_params else None)
        rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        return self.spark.createDataFrame(rows, "column_name string, type string")

    def describe_input(self, name: str) -> DataFrame:
        """DESCRIBE INPUT <name> (tree/DescribeInput.java;
        DescribeInputRewrite): one row per `?` parameter position.
        Spark's parameterized sql() types parameters at bind time, so —
        unlike the reference's analyzer — positions report 'unknown'
        (the reference also returns unknown for untyped contexts)."""
        if not getattr(self, "_prepared", None) or name not in self._prepared:
            raise KeyError(f"prepared statement not found: {name}")
        n_params = self._count_params(self._prepared[name][0])
        return self.spark.createDataFrame(
            [(i, "unknown") for i in range(n_params)], "position int, type string"
        )

    def deallocate(self, name: str) -> None:
        """DEALLOCATE PREPARE <name>."""
        if not getattr(self, "_prepared", None) or name not in self._prepared:
            raise KeyError(f"prepared statement not found: {name}")
        del self._prepared[name]

    def close(self) -> None:
        """Release session-scoped engine storage (r13 VERDICT #8): every
        persist-mode frame tracked by operators/materialize for this
        session and the packing phase-1 cache are unpersisted, so no
        CacheManager entry outlives the engine.  The SparkSession itself
        is the caller's to stop — two engines may share one session."""
        from prestodb_presto_spark.operators.materialize import release_materialized
        from prestodb_presto_spark.queries.packing import release_packing_cache

        release_materialized(self.spark)
        release_packing_cache()
