"""SQL front-end: Spark's own parser reads each statement (the
``sqlParser`` every classic session has, ``--py-files`` deploys
included), and the class of the node it returns picks the engine op
(``_HANDLERS``; the grammar is in the README). Predicates and SET values
reach the ops as parsed Columns (text would lose subqueries and
lambdas), query bodies and USING sources as DataFrames over the parsed
plan. A clause Spark parses but the engine does not implement is refused
by name, as is any other statement class, and every refusal is decided
from the plan before a table is loaded: a refused statement runs no
Spark job."""

from __future__ import annotations

import os
import re
import shutil

from pyspark.errors import ParseException
from pyspark.sql import SparkSession, functions as F, types as T
from pyspark.sql.classic.column import Column
from pyspark.sql.classic.dataframe import DataFrame

from .errors import LakehouseError
from .ops.append import write_data_files
from .schema import DEFAULT_KEY, conform


class SqlDmlError(LakehouseError):
    pass


# MERGE owns its op marker: a source column named like the engine's
# default marker ('op', common in CDC feeds) must never turn an upsert
# into deletes
OP_COL = "__sqldml_op"

# the grammar a statement head promises: the message for a parse error
# and for a statement class the engine does not run
_GRAMMAR = {
    "INSERT": "INSERT body must be a SELECT/VALUES query",
    "CREATE": "bad column definition (<col> <type> [DEFAULT <literal>]) or "
    "CREATE … AS body that is not a SELECT/VALUES query",
    "ALTER": "unsupported ALTER action (ADD / DROP / RENAME COLUMN only)",
    "TRUNCATE": "expected TRUNCATE TABLE <t>",
    "DROP": "expected DROP TABLE <t> [PURGE]",
}


def _grammar(sql: str) -> str:
    head = (sql.split(None, 1) or [""])[0].upper()
    return _GRAMMAR.get(head) or (
        f"syntax error or unsupported statement {head!r} — this entry point "
        "runs INSERT / MERGE INTO / UPDATE / DELETE and CREATE / ALTER / "
        "TRUNCATE / DROP TABLE only (reads: register_views + spark.sql)"
    )


def _parse_literal(text: str):
    """A literal DEFAULT value: quoted string, number, boolean. NULL
    and expressions are refused (NULL default == no default; an
    expression cannot be stored as an initial-default constant)."""
    s = text.strip()
    m = re.fullmatch(r"'((?:[^']|'')*)'", s, re.DOTALL)
    if m:
        return m.group(1).replace("''", "'")
    if re.fullmatch(r"[+-]?\d+", s):
        return int(s)
    if re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?", s):
        return float(s)
    if s.upper() in ("TRUE", "FALSE"):
        return s.upper() == "TRUE"
    raise SqlDmlError(
        f"DEFAULT must be a literal (string/number/boolean), got "
        f"{text.strip()[:40]!r} — expression defaults aren't storable "
        "as initial-default constants; compute them in the INSERT"
    )


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _opt(option):
    return option.get() if option.isDefined() else None


def _lower(names) -> set:
    return {n.lower() for n in names if n}


def _dtype(jtype):
    return T._parse_datatype_json_string(jtype.json())


def _refuse(clauses) -> None:
    """Refuse the first clause Spark parsed that the engine does not
    implement, by name; ``clauses`` are (name, present) pairs."""
    for name, present in clauses:
        if present:
            raise SqlDmlError(f"{name} is not supported by the engine")


class _Statement:
    """The statement text, where it runs (session, catalog or bound
    table), and the JVM conversions the handlers share."""

    def __init__(self, sql, spark, catalog, table):
        self.sql, self.spark = sql, spark
        self.catalog, self.table = catalog, table
        self.jvm = spark._jvm
        self._cc = self.jvm.scala.jdk.javaapi.CollectionConverters

    def parse(self):
        parser = self.spark._jsparkSession.sessionState().sqlParser()
        try:
            return parser.parsePlan(self.sql)
        except ParseException as e:
            detail = next((x for x in str(e).splitlines() if x.strip()), "")
            if e.getCondition() == "UNSUPPORTED_DATATYPE":
                raise SqlDmlError(f"unparseable type: {detail}") from None
            raise SqlDmlError(f"{_grammar(self.sql)} ({detail})") from None

    def list(self, seq) -> list:
        return list(self._cc.asJava(seq))

    def seq(self, items):
        return self._cc.asScala(list(items)).toSeq()

    def name(self, node) -> str:
        """A table reference's multipart name, joined with '.'."""
        kind = _kind(node)
        if kind == "UnresolvedIdentifier":
            return ".".join(self.list(node.nameParts()))
        if kind in ("UnresolvedRelation", "UnresolvedTable"):
            return ".".join(self.list(node.multipartIdentifier()))
        if kind == "SubqueryAlias":
            _refuse([(f"table alias {node.alias()!r} outside MERGE", True)])
        raise SqlDmlError(f"unsupported table reference ({kind})")

    def load(self, name: str):
        if self.table is not None:
            base = os.path.basename(self.table.root.rstrip("/"))
            if name != base:
                raise SqlDmlError(
                    f"statement targets {name!r} but the bound table is {base!r}"
                )
            return self.table
        if self.catalog is None:
            raise SqlDmlError("pass catalog= and spark=, or table=")
        return self.catalog.load_table(self.spark, name)

    def frame(self, plan) -> DataFrame:
        """A DataFrame over a parsed query plan."""
        ds = self.jvm.org.apache.spark.sql.classic.Dataset
        return DataFrame(ds.ofRows(self.spark._jsparkSession, plan), self.spark)

    def column(self, expr, target=(), source=()) -> Column:
        """A parsed expression as a Column over the target's rows: an
        attribute qualified by a ``target`` name loses the qualifier;
        one qualified by a ``source`` name is refused."""
        expr = self._strip(expr, _lower(target), _lower(source))
        utils = self.jvm.org.apache.spark.sql.classic.ExpressionUtils
        return Column(utils.column(expr))

    def _strip(self, expr, target, source):
        if _kind(expr) == "UnresolvedAttribute":
            parts = self.list(expr.nameParts())
            q = parts[0].lower() if len(parts) > 1 else None
            if q in source:
                raise SqlDmlError(
                    "NOT MATCHED BY SOURCE expressions see only the TARGET "
                    f"row; {'.'.join(parts)!r} is source-qualified"
                )
            if q not in target:
                return expr
            analysis = self.jvm.org.apache.spark.sql.catalyst.analysis
            return analysis.UnresolvedAttribute(self.seq(parts[1:]))
        kids = self.list(expr.children())
        if not kids:
            return expr
        return expr.withNewChildren(
            self.seq(self._strip(k, target, source) for k in kids)
        )

    def assignments(self, seq, target=(), source=()) -> dict:
        """SET c = <expr>, … → {column: Column}."""
        out = {}
        for a in self.list(seq):
            parts = self.list(a.key().nameParts())
            if len(parts) > 1 and parts[0].lower() in _lower(target):
                parts = parts[1:]
            col = ".".join(parts)
            if col in out:
                raise SqlDmlError(f"column {col!r} assigned twice in SET")
            out[col] = self.column(a.value(), target, source)
        return out

    def default(self, option):
        """A parsed DEFAULT clause → its literal value (None if absent)."""
        d = _opt(option)
        return None if d is None else _parse_literal(d.originalSQL())

    def create_target(self, plan) -> tuple:
        """CREATE's refusals, then its (name, identity partition columns)."""
        if self.catalog is None:
            raise SqlDmlError("CREATE TABLE needs catalog= and spark=")
        spec = plan.tableSpec()
        _refuse([
            ("IF NOT EXISTS", plan.ignoreIfExists()),
            ("USING", _opt(spec.provider())),
            ("OPTIONS", not spec.optionExpression().options().isEmpty()),
            ("LOCATION", _opt(spec.location())),
            ("COMMENT", _opt(spec.comment())),
            ("TBLPROPERTIES", not spec.properties().isEmpty()),
            ("ROW FORMAT / STORED AS", _opt(spec.serde())),
            ("EXTERNAL", spec.external()),
            ("DEFAULT COLLATION", _opt(spec.collation())),
            ("CONSTRAINT", not spec.constraints().isEmpty()),
        ])
        cols = []
        for tr in self.list(plan.partitioning()):
            label = f"PARTITIONED BY {tr.toString()!r} (identity columns only)"
            _refuse([(label, tr.name() != "identity")])
            cols.append(".".join(tr.references()[0].fieldNames()))
        return self.name(plan.name()), cols


def _identity_spec(cols, available):
    """PARTITIONED BY columns → identity partition spec (both CREATEs)."""
    missing = [c for c in cols if c not in available]
    if missing:
        raise SqlDmlError(f"PARTITIONED BY column(s) {missing} not in {available}")
    spec = [{"name": c, "transform": "identity", "source": c} for c in cols]
    return spec or None


def _insert(st, plan, kw):
    kw.pop("mode", None)
    cols = st.list(plan.userSpecifiedCols())
    spec = st._cc.asJava(plan.partitionSpec())
    overwrite = plan.overwrite()
    _refuse([
        ("INSERT … BY NAME", plan.byName()),
        ("IF NOT EXISTS", plan.ifPartitionNotExists()),
        ("PARTITION on INSERT INTO (use INSERT OVERWRITE)",
         len(spec) and not overwrite),
        ("a column list on INSERT OVERWRITE", cols and overwrite),
    ])
    t = st.load(st.name(plan.table()))
    meta = t.meta
    schema = T.StructType.fromJson(meta.schema_json)
    names = [f.name for f in schema.fields]
    if not overwrite:
        unknown = [c for c in cols if c not in names]
        if unknown:
            raise SqlDmlError(f"INSERT column(s) {unknown} not in table schema")
        df, targets = st.frame(plan.query()), cols or names
        if len(df.columns) != len(targets):
            n, m = len(df.columns), len(targets)
            raise SqlDmlError(f"INSERT supplies {n} column(s) for {m} targets")
        return t._append(meta, conform(df.toDF(*targets), schema), **kw)
    if not spec and st.spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    ).lower() == "static":
        # Spark's default for a PARTITION-less INSERT OVERWRITE: the
        # query's rows replace the whole table, in one commit
        entries = write_data_files(
            t.root, meta.schema_json, meta.partition_spec,
            conform(st.frame(plan.query()), schema),
            properties=meta.properties, **kw,
        )
        return t._replace_all(meta, "overwrite", entries, static_overwrite=True)
    part_sources = [p["source"] for p in meta.partition_spec]
    part_filter, fills = [], {}
    for col, value in spec.items():
        value = _opt(value)
        if value is None:
            raise SqlDmlError(f"bad PARTITION entry {col!r}: need <column> = <lit>")
        if col not in part_sources:
            raise SqlDmlError(f"PARTITION {col!r} is not a partition column")
        # Spark hands partition values over as unquoted text
        dt = schema[col].dataType
        if isinstance(dt, T.IntegralType):
            value = int(value)
        elif isinstance(dt, T.FractionalType):
            value = float(value)
        elif isinstance(dt, T.BooleanType):
            value = value.lower() == "true"
        part_filter.append((col, "=", value))
        fills[col] = F.lit(value).cast(dt)
    df = st.frame(plan.query())
    # static-partition semantics: a listed column may be omitted
    df = df.withColumns({c: v for c, v in fills.items() if c not in df.columns})
    return t.overwrite_partitions(
        conform(df, schema), partition_filter=part_filter or None, **kw
    )


def _delete(st, plan, kw):
    cond = plan.condition()
    # `DELETE FROM t` parses to the same literal as `… WHERE true`
    literal = st.jvm.org.apache.spark.sql.catalyst.expressions.Literal
    if cond.equals(literal.TrueLiteral()) and not re.search(
        r"(?i)\bWHERE\b", st.sql
    ):
        raise SqlDmlError("DELETE requires a WHERE clause (WHERE true: all rows)")
    name = st.name(plan.table())
    pred = st.column(cond, [name])
    return st.load(name).delete(pred, mode=kw.pop("mode", "cow"), **kw)


def _update(st, plan, kw):
    cond = _opt(plan.condition())
    if cond is None:
        raise SqlDmlError("UPDATE requires a WHERE clause (WHERE true: all rows)")
    name = st.name(plan.table())
    sets, pred = st.assignments(plan.assignments(), [name]), st.column(cond, [name])
    return st.load(name).update(sets, pred, mode=kw.pop("mode", "cow"), **kw)


def _on_key(st, cond, valid) -> str:
    """ON: a single equi-condition on the same column name both sides."""
    sides = [cond.left(), cond.right()] if _kind(cond) == "EqualTo" else []
    parts = [
        st.list(s.nameParts()) for s in sides
        if _kind(s) == "UnresolvedAttribute"
    ]
    if len(parts) != 2 or any(len(p) > 2 for p in parts):
        raise SqlDmlError("ON clause must be a single equi-condition 't.key = s.key'")
    (*qa, ca), (*qb, cb) = parts
    if ca != cb:
        raise SqlDmlError(f"merge key must be the SAME column both sides: {ca} = {cb}")
    bad = [q for q in qa + qb if q.lower() not in valid]
    if bad:
        raise SqlDmlError(f"unknown qualifier {bad[0]!r} in ON clause")
    if qa and qb and qa[0].lower() == qb[0].lower():
        raise SqlDmlError("ON clause qualifies both sides with the same alias")
    return ca


def _merge(st, plan, kw):
    if "op_col" in kw:  # dropping it would turn CDC deletes into upserts
        raise SqlDmlError("op_col= is Table.merge's; SQL uses WHEN MATCHED THEN DELETE")
    _refuse([("WITH SCHEMA EVOLUTION", plan.withSchemaEvolution())])
    (t_node, t_alias), (s_node, s_alias) = (
        (n.child(), n.alias()) if _kind(n) == "SubqueryAlias" else (n, None)
        for n in (plan.targetTable(), plan.sourceTable())
    )
    t_name = st.name(t_node)
    s_name = st.name(s_node) if _kind(s_node) == "UnresolvedRelation" else None
    target, source = (t_alias, t_name), (s_alias, s_name)
    key = _on_key(st, plan.mergeCondition(), _lower(target + source))
    kinds = []
    for clause, actions, allowed in (
        ("WHEN MATCHED", plan.matchedActions(), "'UPDATE SET *' or 'DELETE'"),
        ("WHEN NOT MATCHED", plan.notMatchedActions(), "'INSERT *'"),
    ):
        for a in st.list(actions):
            cond = _opt(a.condition())
            _refuse([(f"{clause} AND <cond> (filter the USING source)", cond)])
            kinds.append(_kind(a))
            if kinds[-1] not in ("UpdateStarAction", "DeleteAction",
                                 "InsertStarAction"):
                raise SqlDmlError(
                    f"unsupported {clause} action — only {allowed} (for a "
                    "column-level SET, reshape the USING source)"
                )
    update, delete, insert = (
        k in kinds for k in ("UpdateStarAction", "DeleteAction", "InsertStarAction")
    )
    nms = nms_cond = None
    by_source = st.list(plan.notMatchedBySourceActions())
    _refuse([("more than one WHEN NOT MATCHED BY SOURCE", len(by_source) > 1)])
    for a in by_source:
        nms = (
            "delete" if _kind(a) == "DeleteAction"
            else st.assignments(a.assignments(), target, source)
        )
        cond = _opt(a.condition())
        nms_cond = None if cond is None else st.column(cond, target, source)
    if delete and (update or insert):
        raise SqlDmlError("WHEN MATCHED THEN DELETE cannot combine with INSERT *")
    if not kinds:
        # the closed form always writes the source rows: a statement
        # whose ONLY action is NOT MATCHED BY SOURCE would upsert them
        raise SqlDmlError(
            "MERGE has no actionable clauses" if nms is None else
            "WHEN NOT MATCHED BY SOURCE needs a matched/not-matched clause "
            "too; add WHEN MATCHED THEN UPDATE SET *"
        )
    if nms is not None and insert and not update:
        # the anti-join drops matched keys, whose targets NOT MATCHED BY
        # SOURCE would then delete
        raise SqlDmlError(
            "WHEN NOT MATCHED THEN INSERT * alone cannot combine with WHEN "
            "NOT MATCHED BY SOURCE (the insert-only pre-filter would shrink "
            "the match set); add WHEN MATCHED THEN UPDATE SET *"
        )
    t = st.load(t_name)
    if s_name is not None and s_name in (st.catalog.tables() if st.catalog else {}):
        src = st.catalog.load_table(st.spark, s_name).scan()
    else:
        src = st.frame(s_node)
    if OP_COL in src.columns:
        raise SqlDmlError(f"source column {OP_COL!r} is reserved; rename it")
    # delete-by-key: every source row is a DELETE op (an unmatched key
    # is a no-op in both COW and MoR paths)
    marker = F.lit("delete") if delete else F.lit(None).cast("string")
    src = src.withColumn(OP_COL, marker)
    if update != insert:
        # update-only keeps the matched source rows, insert-only the
        # unmatched ones: one column-pruned key probe
        keys = t.scan(columns=[key]).select(key)
        src = src.join(keys, on=key, how="left_semi" if update else "left_anti")
    return t.merge(
        src, key=key, mode=kw.pop("mode", "cow"), op_col=OP_COL,
        not_matched_by_source=nms, not_matched_by_source_condition=nms_cond,
        **kw,
    )


def _create(st, plan, kw):
    name, part_cols = st.create_target(plan)
    fields = []
    for c in st.list(plan.columns()):
        _refuse([
            ("NOT NULL", not c.nullable()),
            ("COMMENT", _opt(c.comment())),
            ("GENERATED ALWAYS AS", _opt(c.generationExpression())),
            ("IDENTITY", _opt(c.identityColumnSpec())),
        ])
        default = st.default(c.defaultValue())
        md = {} if default is None else {DEFAULT_KEY: default}
        fields.append(T.StructField(c.name(), _dtype(c.dataType()), True, md))
    spec = _identity_spec(part_cols, [f.name for f in fields])
    return st.catalog.create_table(
        st.spark, name, T.StructType(fields), partition_spec=spec, **kw
    )


def _ctas(st, plan, kw):
    # `CREATE TABLE t (SELECT …)` parses as a CTAS with no AS
    start = _opt(plan.query().origin().startIndex())
    if start is not None and not re.search(r"(?i)\bAS[\s(]*$", st.sql[:start]):
        raise SqlDmlError("a query body after the table name needs AS")
    name, part_cols = st.create_target(plan)
    df = st.frame(plan.query())
    spec = _identity_spec(part_cols, df.columns)
    t = st.catalog.create_table(st.spark, name, df.schema, partition_spec=spec, **kw)
    t.append(df)
    return t


def _alter(st, plan, kw):
    """ADD COLUMN (one), DROP COLUMN (one), RENAME COLUMN."""
    kind, name = _kind(plan), st.name(plan.table())
    if kind == "RenameColumn":
        old = ".".join(st.list(plan.column().name()))
        return st.load(name).rename_column(old, plan.newName())
    if kind == "DropColumns":
        drops = st.list(plan.columnsToDrop())
        _refuse([
            ("IF EXISTS", plan.ifExists()),
            ("DROP COLUMNS with more than one column", len(drops) > 1),
        ])
        return st.load(name).drop_column(".".join(st.list(drops[0].name())))
    adds = st.list(plan.columnsToAdd())
    _refuse([("ADD COLUMNS with more than one column", len(adds) > 1)])
    c = adds[0]
    _refuse([
        ("FIRST / AFTER", _opt(c.position())),
        ("COMMENT", _opt(c.comment())),
        ("NOT NULL", not c.nullable()),
    ])
    default = st.default(c.default())
    return st.load(name).add_column(
        ".".join(st.list(c.name())), _dtype(c.dataType()), default=default
    )


def _truncate(st, plan, kw):
    return st.load(st.name(plan.table())).truncate()


def _drop_table(st, plan, kw):
    _refuse([("IF EXISTS", plan.ifExists())])
    name = st.name(plan.child())
    if st.catalog is None:
        raise SqlDmlError("DROP TABLE needs catalog=")
    root = st.catalog.resolve(name)  # raises if unknown
    st.catalog.unregister(name)
    if plan.purge():
        try:
            shutil.rmtree(root)
        except OSError as e:
            # the name is already unregistered: a swallowed failure would
            # report "deleted" while the data remains
            raise SqlDmlError(
                f"DROP TABLE PURGE: {name!r} is unregistered but {root!r} "
                f"remains ({e})"
            ) from e
    return root


_HANDLERS = {
    "InsertIntoStatement": _insert,
    "DeleteFromTable": _delete,
    "UpdateTable": _update,
    "MergeIntoTable": _merge,
    "CreateTable": _create,
    "CreateTableAsSelect": _ctas,
    "AddColumns": _alter,
    "DropColumns": _alter,
    "RenameColumn": _alter,
    "TruncateTable": _truncate,
    "DropTable": _drop_table,
}


def is_engine_statement(spark, sql: str) -> bool:
    """Whether :func:`execute` runs ``sql`` (a plain query is left to
    ``spark.sql``); text that does not parse raises SqlDmlError."""
    return _kind(_Statement(sql, spark, None, None).parse()) in _HANDLERS


def execute(sql: str, *, catalog=None, table=None, spark=None, **kw):
    """Run one statement against ``catalog`` (+ ``spark``; CREATE and
    DROP TABLE need it) or a bound ``table`` (named by its root
    basename); returns the op's result. DML forwards ``kw`` to the op
    (``mode=``, ``isolation=``), CREATE TABLE to ``create_table``
    (``properties=``); the rest take none. A MERGE USING name is a
    catalog table first, then a Spark view or table."""
    spark = spark or (table.spark if table is not None else None)
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise SqlDmlError("pass spark= (Spark's parser reads the statement)")
    st = _Statement(sql, spark, catalog, table)
    plan = st.parse()
    handler = _HANDLERS.get(_kind(plan))
    if handler is None:
        raise SqlDmlError(f"{_grammar(sql)} (parsed as {_kind(plan)})")
    if kw and handler in (_alter, _truncate, _drop_table):
        raise SqlDmlError(
            f"unexpected keyword argument(s) {sorted(kw)} — DML forwards op "
            "options, CREATE TABLE create_table options, the rest take none"
        )
    return handler(st, plan, dict(kw))
