"""SQL DDL front-end: CREATE/ALTER TABLE strings over the lake catalog.

The reference's declarative surface is a JSON table-definition document
routed to CREATE or ALTER (``/root/reference/lambda/iceberg_helper.py:197-222``);
this module exposes the same routing as ANSI-ish DDL strings, the form a
Spark user would actually write (``spark.sql("ALTER TABLE ...")``).
Statements compile to the package's existing primitives — the schema
evolution planner (evolution.py) and partition-spec evolution
(partitioning.py) — so validation, message accumulation, and the
no-partial-commit contract are identical to the config-document path.

Supported grammar (case-insensitive keywords; identifiers keep case;
dotted paths address nested fields, ``col.element.child`` for
array-element structs, matching schema_diff path addressing):

    CREATE TABLE [IF NOT EXISTS] db.tbl ( col TYPE [NOT NULL], ... )
        [PARTITIONED BY ( years(c) | months(c) | days(c) | hours(c) | c
                          | bucket(N, c) | truncate(W, c), ... )]
        [TBLPROPERTIES ( 'k' = 'v', ... )]
    CREATE TABLE [IF NOT EXISTS] db.tbl [PARTITIONED BY (...)] AS <select>
    ALTER TABLE db.tbl ADD COLUMN  path TYPE [NOT NULL]
    ALTER TABLE db.tbl ADD COLUMNS ( path TYPE [NOT NULL], ... )
    ALTER TABLE db.tbl DROP COLUMN path
    ALTER TABLE db.tbl RENAME COLUMN old TO new
    ALTER TABLE db.tbl RENAME TO [db2.]tbl2
    ALTER TABLE db.tbl ALTER COLUMN path TYPE newtype
    ALTER TABLE db.tbl ALTER COLUMN path FIRST | AFTER other
    ALTER TABLE db.tbl ADD PARTITION FIELD years(c)|... [AS name]
    ALTER TABLE db.tbl DROP PARTITION FIELD years(c)|...|name
    ALTER TABLE db.tbl SET TBLPROPERTIES ( 'k' = 'v', ... )
    ALTER TABLE db.tbl UNSET TBLPROPERTIES ( 'k', ... )
    ALTER TABLE db.tbl CREATE TAG name [AS OF VERSION 'snapshot-id']
    ALTER TABLE db.tbl DROP TAG name
    ALTER TABLE db.tbl CREATE BRANCH name | DROP BRANCH name
    TRUNCATE TABLE db.tbl
    DROP TABLE [IF EXISTS] db.tbl
    INSERT INTO | OVERWRITE db.tbl <select | VALUES ...>
    DELETE FROM db.tbl WHERE <cond>
    UPDATE db.tbl SET col = expr, ... [WHERE <cond>]
    MERGE INTO db.tbl USING (<select>) ON (k, ...)
        [WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr, ...
         | WHEN MATCHED [AND <cond>] THEN DELETE] ...
        [WHEN NOT MATCHED [AND <cond>] THEN INSERT
         [(col, ...) VALUES (expr, ...)]]
    -- multiple WHEN MATCHED clauses run first-match-wins; clause
    -- conditions/SET exprs see source columns as s_<name>; INSERT
    -- VALUES exprs see plain source columns; conditions must not
    -- contain the token THEN (no CASE expressions there)

Reads go through ``query()`` (returns a DataFrame): SELECT/WITH/VALUES
with ``db.tbl`` identifiers bound to current-snapshot scans,
``db.tbl VERSION AS OF '<snapshot>'`` time travel, SHOW TABLES, and
DESCRIBE db.tbl.

Errors never raise: they accumulate in ``ProcessSchemaResponse``
(``message_list`` + ``has_error``), the reference's observable contract
(``handler.py:50,59-64``).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .evolution import (
    _add_nested,
    _drop_path,
    _update_path_type,
    evolve_table,
)
from .partitioning import (
    SPEC_FIELD_ID_START,
    TRANSFORMS,
    PartitionField,
    PartitionSpec,
    default_partition_name,
)
from .response import ProcessSchemaResponse
from .table_format import LakeCatalog, LakeTable

# years(c) and year(c) both accepted, like Spark's Iceberg DDL
_TRANSFORM_ALIASES = {t + "s": t for t in TRANSFORMS if t != "identity"}


class DdlError(ValueError):
    pass


# the paren/quote/angle-aware comma splitter lives in table_format
# (parse_sort_order shares it; one definition — r12 review)
from .table_format import _split_top_level  # noqa: E402


def _parse_type(spark: SparkSession, ddl: str) -> T.DataType:
    """SQL type string -> Spark DataType via Spark's own DDL parser
    (handles struct<...>, array<...>, map<...>, decimal(p,s), ...)."""
    st = T.StructType.fromDDL(f"__c {ddl}")
    return st.fields[0].dataType


def _parse_col_def(spark: SparkSession, text: str) -> T.StructField:
    m = re.match(
        r"^\s*([A-Za-z_][\w.]*)\s+(.+?)(\s+NOT\s+NULL)?\s*$",
        text,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise DdlError(f"cannot parse column definition: {text!r}")
    name, type_ddl, not_null = m.group(1), m.group(2), m.group(3)
    return T.StructField(
        name, _parse_type(spark, type_ddl), nullable=not_null is None
    )


def _q(s: str) -> str:
    """Escape a value for a single-quoted SQL literal."""
    return s.replace("'", "''")


def _render_partition_field(
    f: PartitionField, identity_fn: bool = False
) -> str:
    """Render a spec field back to re-parseable DDL: bare column for
    identity (or ``identity(col)`` for DESCRIBE), ``bucket(N, col)`` /
    ``truncate(W, col)`` for parameterized transforms,
    ``transform(col)`` otherwise."""
    if f.param is not None:
        return f"{f.base_transform}({f.param}, {f.source_column})"
    if f.transform == "identity" and not identity_fn:
        return f.source_column
    return f"{f.transform}({f.source_column})"


def _parse_partition_entry(text: str) -> tuple[str, str, str | None]:
    """'years(c) [AS name]' | 'c' | 'bucket(16, c)' | 'truncate(4, c)'
    -> (source_column, transform, name). Two-arg transforms accept the
    parameter in either position (Iceberg's Spark DDL wrote
    ``truncate(col, W)`` historically, ``truncate(W, col)`` today)."""
    m2 = re.match(
        r"^\s*(\w+)\s*\(\s*([A-Za-z_]\w*|\d+)\s*,\s*([A-Za-z_]\w*|\d+)"
        r"\s*\)(?:\s+AS\s+([A-Za-z_]\w*))?\s*$",
        text,
        re.IGNORECASE,
    )
    if m2:
        fn, a, b, alias = m2.groups()
        fn = fn.lower()
        if fn not in ("bucket", "truncate"):
            raise DdlError(
                f"unsupported two-argument partition transform {fn!r} "
                "(supported: bucket(N, col), truncate(W, col))"
            )
        if a.isdigit() and not b.isdigit():
            n, col = a, b
        elif b.isdigit() and not a.isdigit():
            n, col = b, a
        else:
            raise DdlError(
                f"cannot parse partition field: {text!r} (need one "
                "integer parameter and one column)"
            )
        return col, f"{fn}[{int(n)}]", alias
    m = re.match(
        r"^\s*(?:(\w+)\s*\(\s*([A-Za-z_]\w*)\s*\)|([A-Za-z_]\w*))"
        r"(?:\s+AS\s+([A-Za-z_]\w*))?\s*$",
        text,
        re.IGNORECASE,
    )
    if not m:
        raise DdlError(f"cannot parse partition field: {text!r}")
    fn, col, bare, alias = m.groups()
    if bare is not None:
        return bare, "identity", alias
    transform = fn.lower()
    transform = _TRANSFORM_ALIASES.get(transform, transform)
    if transform not in TRANSFORMS:
        raise DdlError(
            f"unsupported partition transform {fn!r} (supported: "
            f"{', '.join(TRANSFORMS)} and plural aliases, plus "
            "bucket(N, col) / truncate(W, col))"
        )
    return col, transform, alias


def _parse_properties(text: str) -> dict[str, str]:
    props = {}
    for entry in _split_top_level(text):
        m = re.match(
            r"^\s*'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'\s*$", entry
        )
        if not m:
            raise DdlError(f"cannot parse property: {entry!r}")
        props[m.group(1).replace("''", "'")] = m.group(2).replace("''", "'")
    return props


_CREATE_RE = re.compile(
    r"^CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<db>[A-Za-z_]\w*)\.(?P<tbl>[A-Za-z_]\w*)\s*"
    r"\((?P<cols>.*?)\)\s*"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>.*?)\)\s*)?"
    r"(?:TBLPROPERTIES\s*\((?P<props>.*)\)\s*)?$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_TABLE_RE = re.compile(
    r"^DROP\s+TABLE\s+(?P<ie>IF\s+EXISTS\s+)?"
    r"(?P<db>[A-Za-z_]\w*)\.(?P<tbl>[A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_ALTER_RE = re.compile(
    r"^ALTER\s+TABLE\s+(?P<db>[A-Za-z_]\w*)\.(?P<tbl>[A-Za-z_]\w*)\s+"
    r"(?P<action>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^INSERT\s+(?P<mode>INTO|OVERWRITE)\s+"
    r"(?P<db>[A-Za-z_]\w*)\.(?P<tbl>[A-Za-z_]\w*)\s+(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS_RE = re.compile(
    r"^CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<db>[A-Za-z_]\w*)\.(?P<tbl>[A-Za-z_]\w*)\s*"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>.*?)\)\s*)?"
    r"AS\s+(?P<body>(?:SELECT|WITH|VALUES)\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE_RE = re.compile(
    r"^TRUNCATE\s+TABLE\s+(?P<db>[A-Za-z_]\w*)\.(?P<tbl>[A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)
_DELETE_RE = re.compile(
    r"^DELETE\s+FROM\s+(?P<db>[A-Za-z_]\w*)\.(?P<tbl>[A-Za-z_]\w*)\s+"
    r"WHERE\s+(?P<cond>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^UPDATE\s+(?P<db>[A-Za-z_]\w*)\.(?P<tbl>[A-Za-z_]\w*)\s+"
    r"SET\s+(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)


# matches one single- OR double-quoted SQL string literal (Spark
# accepts both by default); '' / "" are the escaped-quote forms
_LITERAL_RE = r"('(?:[^']|'')*'|\"(?:[^\"]|\"\")*\")"


def _mask_literals(text: str) -> str:
    """Same-length copy with string-literal contents blanked, so
    keyword regexes can compute positions on the mask and slice the
    original without ever matching inside a literal."""
    return re.sub(
        _LITERAL_RE, lambda m: m.group(0)[0] + " " * (len(m.group(0)) - 2) + m.group(0)[-1], text
    )


def _sub_outside_literals(pattern: re.Pattern, repl, text: str) -> str:
    """``pattern.sub(repl, text)`` that skips matches STARTING inside a
    string literal (a kept match may legitimately *end* inside one —
    the quoted snapshot id is part of the syntax). Used for the
    VERSION AS OF / CHANGES rewrites, whose side-effecting ``repl``
    must never fire on literal text that merely mentions the syntax."""
    spans = [m.span() for m in re.finditer(_LITERAL_RE, text)]

    def in_literal(pos: int) -> bool:
        return any(a <= pos < b for a, b in spans)

    out: list[str] = []
    last = 0
    for m in pattern.finditer(text):
        if in_literal(m.start()):
            continue
        out.append(text[last: m.start()])
        out.append(repl(m))
        last = m.end()
    out.append(text[last:])
    return "".join(out)


def _split_where(body: str) -> tuple[str, str | None]:
    """Split ``<assignments> [WHERE <cond>]`` on the first WHERE that
    sits OUTSIDE string literals and at paren depth 0 (so both
    ``SET note = 'where x'`` and ``SET x = (SELECT ... WHERE ...)``
    stay intact)."""
    parts = re.split(_LITERAL_RE, body)
    depth = 0
    for i, seg in enumerate(parts):
        if i % 2:  # literal segment — opaque
            continue
        for m in re.finditer(r"[()]|\bWHERE\b", seg, re.IGNORECASE):
            tok = m.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
            elif depth == 0:
                head = "".join(parts[:i]) + seg[: m.start()]
                tail = seg[m.end():] + "".join(parts[i + 1:])
                return head.strip(), tail.strip()
    return body.strip(), None
# constrained MERGE: equality keys in ON (...); clause grammar parsed
# per-clause in _merge (multiple conditional WHEN MATCHED, one WHEN NOT
# MATCHED with optional column-list INSERT); update expressions may
# reference source columns as s_<name> (merge_into's aliasing contract)
# maintenance procedures — the Iceberg Spark-procedure surface
# (CALL catalog.system.expire_snapshots / remove_orphan_files /
# rewrite_data_files); args: positional 'db.tbl' + name => value pairs
_CALL_RE = re.compile(
    r"^CALL\s+system\.(?P<proc>\w+)\s*\((?P<args>.*)\)$",
    re.IGNORECASE | re.DOTALL,
)

_MERGE_RE = re.compile(
    r"^MERGE\s+INTO\s+(?P<db>[A-Za-z_]\w*)\.(?P<tbl>[A-Za-z_]\w*)\s+"
    r"USING\s+\((?P<src>.+)\)\s+ON\s+\((?P<keys>[^)]+)\)\s+"
    r"(?P<clauses>WHEN\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)


class DdlFrontend:
    """Executes DDL strings against a ``LakeCatalog``; one instance per
    (session, catalog) pair.

    This is control-plane code — statements touch metadata JSON, never
    data files — so a hand-rolled parser for the closed grammar above is
    the honest scale posture (data-plane SQL goes through
    ``spark.sql``/Catalyst, not here).
    """

    def __init__(self, spark: SparkSession, catalog: LakeCatalog):
        self.spark = spark
        self.catalog = catalog

    def sql(self, statement: str) -> ProcessSchemaResponse:
        resp = ProcessSchemaResponse()
        stmt = statement.strip().rstrip(";").strip()
        try:
            self._dispatch(stmt, resp)
        except DdlError as e:
            resp.message_list.append(f"DDL error: {e}")
            resp.has_error = True
        except Exception as e:  # noqa: BLE001 — contract: accumulate, don't raise
            resp.message_list.append(f"{type(e).__name__}: {e}")
            resp.has_error = True
        return resp

    # ------------------------------------------------------------------

    def _dispatch(self, stmt: str, resp: ProcessSchemaResponse) -> None:
        if m := _CTAS_RE.match(stmt):
            self._ctas(m, resp)
        elif m := _CREATE_RE.match(stmt):
            self._create(m, resp)
        elif m := _DROP_TABLE_RE.match(stmt):
            self._drop_table(m, resp)
        elif m := _ALTER_RE.match(stmt):
            self._alter(m, resp)
        elif m := _INSERT_RE.match(stmt):
            self._insert(m, resp)
        elif m := _TRUNCATE_RE.match(stmt):
            self._truncate(m, resp)
        elif m := _DELETE_RE.match(stmt):
            self._delete(m, resp)
        elif m := _UPDATE_RE.match(stmt):
            self._update(m, resp)
        elif m := _MERGE_RE.match(stmt):
            self._merge(m, resp)
        elif m := _CALL_RE.match(stmt):
            self._call(m, resp)
        elif re.match(r"^(SELECT|WITH|VALUES)\b", stmt, re.IGNORECASE):
            raise DdlError(
                "read queries go through DdlFrontend.query(), which "
                "returns a DataFrame"
            )
        else:
            raise DdlError(f"unrecognized statement: {stmt[:80]!r}")

    # -- data plane ----------------------------------------------------

    def query(self, statement: str) -> "DataFrame":
        """Run a read query (SELECT/WITH/VALUES, plus SHOW TABLES and
        DESCRIBE db.tbl metadata reads) against the lake: every
        ``db.tbl`` identifier that names a catalog table is bound to
        its current-snapshot scan (schema-aligned, hidden-partition
        aware) as a temp view, then the statement executes through
        spark.sql — Catalyst owns the whole data plane."""
        stmt = statement.strip().rstrip(";").strip()
        if re.match(r"^SHOW\s+TABLES$", stmt, re.IGNORECASE):
            return self.spark.createDataFrame(
                self.catalog.list_tables() or [("", "")],
                "database string, table string",
            ).filter("database != ''")
        if sm := re.match(
            r"^SHOW\s+CREATE\s+TABLE\s+"
            r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)$",
            stmt,
            re.IGNORECASE,
        ):
            table = self.catalog.load_table(sm.group(1), sm.group(2))
            if table is None:
                raise DdlError(
                    f"table {sm.group(1)}.{sm.group(2)} does not exist"
                )
            # Spark's own DDL rendering of the schema (types + NOT
            # NULL), so the emitted statement re-executes through this
            # front-end's CREATE parser — round-trip tested
            cols = (
                self.spark.createDataFrame([], table.schema)
                ._jdf.schema()
                .toDDL()
            )
            ddl = f"CREATE TABLE {sm.group(1)}.{sm.group(2)} ({cols})"
            spec = table.partition_spec
            if spec.fields:
                parts = ", ".join(
                    _render_partition_field(f) for f in spec.fields
                )
                ddl += f" PARTITIONED BY ({parts})"
            if table.properties:
                # embedded quotes double up ('' — ANSI string escaping)
                # so the emitted statement always re-parses
                props = ", ".join(
                    f"'{_q(k)}' = '{_q(v)}'"
                    for k, v in sorted(table.properties.items())
                )
                ddl += f" TBLPROPERTIES ({props})"
            return self.spark.createDataFrame(
                [(ddl,)], "create_statement string"
            )
        if dm := re.match(
            r"^DESCRIBE\s+(?:TABLE\s+)?"
            r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)$",
            stmt,
            re.IGNORECASE,
        ):
            table = self.catalog.load_table(dm.group(1), dm.group(2))
            if table is None:
                raise DdlError(f"table {dm.group(1)}.{dm.group(2)} does not exist")
            rows = [
                (f.name, f.dataType.simpleString(), f.nullable)
                for f in table.schema.fields
            ] + [
                (
                    f"# partition: {f.name}",
                    _render_partition_field(f, identity_fn=True),
                    True,
                )
                for f in table.partition_spec.fields
            ]
            return self.spark.createDataFrame(
                rows, "col_name string, data_type string, nullable boolean"
            )
        return self.spark.sql(self._bind_tables(stmt))

    def _bind_tables(self, statement: str) -> str:
        # split out string literals (single- or double-quoted) so
        # identifier substitution can never rewrite text inside them
        segments = re.split(_LITERAL_RE, statement)

        def sub_code(pattern: re.Pattern, repl) -> None:
            for i in range(0, len(segments), 2):  # even = outside quotes
                segments[i] = pattern.sub(repl, segments[i])

        def code_search(pattern: re.Pattern) -> bool:
            return any(
                pattern.search(segments[i])
                for i in range(0, len(segments), 2)
            )

        for db, tbl in self.catalog.list_tables():
            ident = re.compile(rf"\b{re.escape(db)}\.{re.escape(tbl)}\b")
            if not code_search(ident):
                continue
            table = self.catalog.load_table(db, tbl)
            # time travel first: db.tbl VERSION AS OF 'snapshot-id'
            # binds the as-of scan (B49) under its own view name. The
            # snapshot id is a quoted literal, so match across the
            # segment boundary on the rejoined text, then re-split.
            joined = "".join(segments)
            tt = re.compile(
                ident.pattern + r"\s+VERSION\s+AS\s+OF\s+'([^']+)'",
                re.IGNORECASE,
            )
            def san(lit: str) -> str:
                # readable prefix + content hash: two literals sharing
                # a 16-char prefix (ISO timestamps differing in
                # seconds) must NOT collide on one temp view
                import hashlib  # noqa: PLC0415

                return (
                    re.sub(r"\W", "_", lit)[:16]
                    + "_"
                    + hashlib.md5(lit.encode()).hexdigest()[:8]
                )
            # metadata tables FIRST — db.tbl.snapshots / db.tbl.files
            # must bind before the plain-identifier rewrite sees its
            # db.tbl prefix
            meta_re = re.compile(
                ident.pattern
                + r"\.(snapshots|files|refs|changes|history|partitions)\b",
                re.IGNORECASE,
            )

            def meta_repl(m: re.Match) -> str:
                kind = m.group(1).lower()
                view = f"lake_{db}_{tbl}_meta_{kind}_v"
                df = {
                    "snapshots": table.snapshots_df,
                    "files": table.files_df,
                    "refs": table.refs_df,
                    # full-range CDC changelog (changelog_between
                    # defaults: table begin -> current)
                    "changes": table.changelog_between,
                    "history": table.history_df,
                    "partitions": table.partitions_df,
                }[kind](self.spark)
                df.createOrReplaceTempView(view)
                return view

            joined = _sub_outside_literals(meta_re, meta_repl, joined)

            def tt_repl(m: re.Match) -> str:
                view = f"lake_{db}_{tbl}_asof_{san(m.group(1))}_v"
                table.to_df(
                    self.spark, as_of_snapshot=m.group(1)
                ).createOrReplaceTempView(view)
                return view

            joined = _sub_outside_literals(tt, tt_repl, joined)
            # timestamp travel: db.tbl TIMESTAMP AS OF '<iso|epoch-ms>'
            ts_re = re.compile(
                ident.pattern + r"\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'",
                re.IGNORECASE,
            )

            def ts_repl(m: re.Match) -> str:
                from datetime import datetime, timezone  # noqa: PLC0415

                lit = m.group(1)
                if lit.isdigit():
                    ms = int(lit)
                else:
                    try:
                        dt = datetime.fromisoformat(lit)
                    except ValueError as e:
                        raise DdlError(
                            f"TIMESTAMP AS OF {lit!r}: not an ISO "
                            f"datetime or epoch-ms integer ({e})"
                        ) from e
                    # naive literals are UTC; an explicit offset is
                    # honored, never reinterpreted
                    if dt.tzinfo is None:
                        dt = dt.replace(tzinfo=timezone.utc)
                    ms = int(dt.timestamp() * 1000)
                view = f"lake_{db}_{tbl}_tsof_{san(lit)}_v"
                table.to_df(
                    self.spark, as_of_timestamp_ms=ms
                ).createOrReplaceTempView(view)
                return view

            joined = _sub_outside_literals(ts_re, ts_repl, joined)
            # CDC read: db.tbl CHANGES BETWEEN 'sid' AND 'sid' (or
            # CHANGES SINCE 'sid') binds changes_between — the
            # incremental delta with _snapshot_id/_change_type columns
            ch = re.compile(
                ident.pattern
                + r"\s+CHANGES\s+(?:BETWEEN\s+'([^']+)'\s+AND\s+'([^']+)'"
                + r"|SINCE\s+'([^']+)')",
                re.IGNORECASE,
            )

            def ch_repl(m: re.Match) -> str:
                frm = m.group(1) or m.group(3) or None
                to = m.group(2) or None
                view = (
                    f"lake_{db}_{tbl}_chg_{san(frm or 'begin')}_"
                    f"{san(to or 'head')}_v"
                )
                table.changes_between(
                    self.spark, from_snapshot=frm, to_snapshot=to
                ).createOrReplaceTempView(view)
                return view

            joined = _sub_outside_literals(ch, ch_repl, joined)
            segments = re.split(_LITERAL_RE, joined)
            if code_search(ident):
                view = f"lake_{db}_{tbl}_v"
                table.to_df(self.spark).createOrReplaceTempView(view)
                sub_code(ident, view)
        return "".join(segments)

    def _insert(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        db, tbl = m.group("db"), m.group("tbl")
        resp.database_name, resp.table_name = db, tbl
        resp.change_type = "INSERT"
        table = self.catalog.load_table(db, tbl)
        if table is None:
            raise DdlError(f"table {db}.{tbl} does not exist")
        df = self.query(m.group("body"))
        schema = table.schema
        if len(df.columns) != len(schema.fields):
            raise DdlError(
                f"INSERT column count {len(df.columns)} != table arity "
                f"{len(schema.fields)}"
            )
        # positional binding, like SQL INSERT: rename then let the
        # write path's alignment cast types
        df = df.toDF(*[f.name for f in schema.fields])
        if m.group("mode").upper() == "OVERWRITE":
            snap = table.overwrite(df)
        else:
            snap = table.append(df)
        resp.message_list.append(
            f"{'Overwrote' if m.group('mode').upper() == 'OVERWRITE' else 'Appended'}"
            f" snapshot {snap.snapshot_id} into {db}.{tbl}"
        )

    def _load_for_dml(self, m: re.Match, resp: ProcessSchemaResponse,
                      change_type: str) -> LakeTable:
        db, tbl = m.group("db"), m.group("tbl")
        resp.database_name, resp.table_name = db, tbl
        resp.change_type = change_type
        table = self.catalog.load_table(db, tbl)
        if table is None:
            raise DdlError(f"table {db}.{tbl} does not exist")
        return table

    @staticmethod
    def _write_mode_strategy(table: LakeTable, prop: str) -> str:
        """Iceberg's write.<op>.mode table property -> engine strategy;
        unknown values error — a silent copy-on-write fallback could
        turn an O(metadata) operation into a full rewrite."""
        mode = table.properties.get(prop, "copy-on-write")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise DdlError(
                f"{prop}={mode!r}: expected 'copy-on-write' or "
                "'merge-on-read'"
            )
        return "merge_on_read" if mode == "merge-on-read" else "copy_on_write"

    def _truncate(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        """``TRUNCATE TABLE db.t`` (Spark/Iceberg verb): one overwrite
        commit with an empty frame — the schema, partition spec,
        properties, and full time-travel history all survive (a
        truncate is a data operation, not a drop)."""
        table = self._load_for_dml(m, resp, "TRUNCATE")
        empty = self.spark.createDataFrame([], table.schema)
        snap = table.overwrite(empty)
        resp.message_list.append(
            f"Truncated {m.group('db')}.{m.group('tbl')} "
            f"(snapshot {snap.snapshot_id}; history retained)"
        )

    def _delete(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        table = self._load_for_dml(m, resp, "DELETE")
        # extension value: 'merge-on-read-position' selects the
        # position-delete granularity (DELETE only — the other DML ops
        # keep the strict two-mode contract)
        if (
            table.properties.get("write.delete.mode")
            == "merge-on-read-position"
        ):
            strategy = "merge_on_read_position"
        else:
            strategy = self._write_mode_strategy(
                table, "write.delete.mode"
            )
        snap = table.delete_where(
            self.spark, m.group("cond").strip(), strategy=strategy
        )
        resp.message_list.append(
            f"Deleted where {m.group('cond').strip()} "
            f"({strategy}, snapshot "
            f"{snap.snapshot_id if snap else 'none — no row matched'})"
        )

    @staticmethod
    def _parse_assignments(text: str) -> dict[str, str]:
        out: dict[str, str] = {}
        # angles=False: '<'/'>' in a SET expression are comparisons
        for part in _split_top_level(text, angles=False):
            am = re.match(r"^\s*([A-Za-z_]\w*)\s*=\s*(.+)$", part, re.DOTALL)
            if not am:
                raise DdlError(f"cannot parse assignment: {part!r}")
            out[am.group(1)] = am.group(2).strip()
        return out

    def _update(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        table = self._load_for_dml(m, resp, "UPDATE")
        sets, cond = _split_where(m.group("body"))
        cond = cond or "true"
        # same extension value as DELETE: position-granularity MoR
        if (
            table.properties.get("write.update.mode")
            == "merge-on-read-position"
        ):
            strategy = "merge_on_read_position"
        else:
            strategy = self._write_mode_strategy(
                table, "write.update.mode"
            )
        snap = table.update_where(
            self.spark, cond, self._parse_assignments(sets),
            strategy=strategy,
        )
        resp.message_list.append(
            f"Updated where {cond} (snapshot {snap.snapshot_id})"
            if snap is not None
            else f"Updated where {cond} ({strategy}, no-op: 0 rows "
            "matched, nothing committed)"
        )

    # one WHEN clause head on a literal-masked copy; cond/rest spans are
    # sliced from the ORIGINAL text. Conditions must not themselves
    # contain the token THEN (i.e. no CASE expressions there) — a
    # documented grammar restriction.
    _MERGE_CLAUSE_RE = re.compile(
        r"^WHEN\s+(?P<not>NOT\s+)?MATCHED"
        r"(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+(?P<rest>.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    _MERGE_INSERT_RE = re.compile(
        r"^INSERT\s*(?:\(\s*(?P<cols>[^)]*?)\s*\)\s*"
        r"VALUES\s*\(\s*(?P<vals>.*)\s*\))?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _merge(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        table = self._load_for_dml(m, resp, "MERGE")
        source = self.query(m.group("src"))
        keys = [k.strip() for k in m.group("keys").split(",") if k.strip()]
        clauses = m.group("clauses")
        # find clause starts on a literal-masked copy (a SET value like
        # 'WHEN NOT MATCHED' must not register as a clause), then slice
        # the ORIGINAL text by the mask's positions
        masked = _mask_literals(clauses)
        starts = [
            mm.start()
            for mm in re.finditer(
                r"\bWHEN\s+(?:NOT\s+)?MATCHED\b", masked, re.IGNORECASE
            )
        ]
        if not starts:
            raise DdlError(f"no recognizable MERGE clause in {clauses[:60]!r}")
        bounds = list(zip(starts, [*starts[1:], len(clauses)]))
        when_matched: list[tuple[str | None, str, dict | None]] = []
        insert_seen = False
        insert_assignments = None
        insert_condition = None
        for s, e in bounds:
            head = self._MERGE_CLAUSE_RE.match(masked[s:e].strip())
            if not head:
                raise DdlError(
                    f"cannot parse MERGE clause: {clauses[s:e][:60]!r}"
                )
            off = s + (len(masked[s:e]) - len(masked[s:e].lstrip()))
            cond = (
                clauses[off + head.start("cond"): off + head.end("cond")]
                if head.group("cond")
                else None
            )
            rest_masked = head.group("rest").strip()
            rest = clauses[off + head.start("rest"): off + head.end("rest")].strip()
            if head.group("not"):
                ins = self._MERGE_INSERT_RE.match(rest_masked)
                if not ins:
                    raise DdlError(
                        "WHEN NOT MATCHED supports only THEN INSERT "
                        "[(cols) VALUES (exprs)]"
                    )
                if insert_seen:
                    raise DdlError(
                        "MERGE supports one WHEN NOT MATCHED clause"
                    )
                insert_seen = True
                insert_condition = cond
                if ins.group("cols") is not None:
                    # masking preserves length and quote chars, so the
                    # masked-match spans slice the original text exactly
                    cols = _split_top_level(
                        rest[ins.start("cols"):ins.end("cols")],
                        angles=False,
                    )
                    vals = _split_top_level(
                        rest[ins.start("vals"):ins.end("vals")],
                        angles=False,
                    )
                    if len(cols) != len(vals):
                        raise DdlError(
                            f"INSERT column/value count mismatch: "
                            f"{len(cols)} vs {len(vals)}"
                        )
                    insert_assignments = {
                        c.strip(): v.strip() for c, v in zip(cols, vals)
                    }
            else:
                upd = re.match(
                    r"^UPDATE\s+SET\s+", rest_masked, re.IGNORECASE
                )
                if upd:
                    body = rest[upd.end():]
                    when_matched.append(
                        ("update", cond, self._parse_assignments(body))
                    )
                elif re.match(r"^DELETE\s*$", rest_masked, re.IGNORECASE):
                    when_matched.append(("delete", cond, None))
                else:
                    raise DdlError(
                        "WHEN MATCHED supports THEN UPDATE SET ... or "
                        f"THEN DELETE, got {rest[:40]!r}"
                    )
        # unconditional clauses shadow everything after them — reject
        # unreachable clauses instead of silently ignoring them
        for i, (_a, cond, _x) in enumerate(when_matched[:-1]):
            if cond is None:
                raise DdlError(
                    "unconditional WHEN MATCHED clause makes later "
                    "WHEN MATCHED clauses unreachable"
                )
        strategy = self._write_mode_strategy(table, "write.merge.mode")
        snap = table.merge_into(
            self.spark,
            source,
            keys,
            when_matched=[
                (cond, action, assigns)
                for action, cond, assigns in when_matched
            ],
            insert_not_matched=insert_seen,
            insert_assignments=insert_assignments,
            insert_condition=insert_condition,
            strategy=strategy,
        )
        resp.message_list.append(
            f"Merged on ({', '.join(keys)}) "
            f"({strategy}, snapshot {snap.snapshot_id})"
            if snap is not None
            else f"Merged on ({', '.join(keys)}) ({strategy}, no-op: "
            "nothing matched or inserted, nothing committed)"
        )

    def _ctas(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        db, tbl = m.group("db"), m.group("tbl")
        resp.database_name, resp.table_name = db, tbl
        resp.change_type = "CREATE TABLE"
        if self.catalog.table_exists(db, tbl):
            if m.group("ine"):
                resp.message_list.append(
                    f"Table {db}.{tbl} already exists (IF NOT EXISTS)"
                )
                return
            raise DdlError(f"table {db}.{tbl} already exists")
        df = self.query(m.group("body"))
        spec = self._compile_spec(m.group("parts"), df.schema)
        table = self.catalog.create_table(db, tbl, df.schema, spec)
        snap = table.append(df)
        resp.message_list.append(
            f"Created table {db}.{tbl} at {table.location} "
            f"(CTAS snapshot {snap.snapshot_id})"
        )

    def _create(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        db, tbl = m.group("db"), m.group("tbl")
        resp.database_name, resp.table_name = db, tbl
        resp.change_type = "CREATE TABLE"
        if self.catalog.table_exists(db, tbl):
            if m.group("ine"):
                resp.message_list.append(
                    f"Table {db}.{tbl} already exists (IF NOT EXISTS)"
                )
                return
            raise DdlError(f"table {db}.{tbl} already exists")
        fields = [
            _parse_col_def(self.spark, c)
            for c in _split_top_level(m.group("cols"))
        ]
        schema = T.StructType(fields)
        spec = self._compile_spec(m.group("parts"), schema)
        props = _parse_properties(m.group("props")) if m.group("props") else {}
        table = self.catalog.create_table(db, tbl, schema, spec, properties=props)
        resp.message_list.append(f"Created table {db}.{tbl} at {table.location}")

    def _compile_spec(
        self, parts: str | None, schema: T.StructType
    ) -> PartitionSpec:
        if not parts or not parts.strip():
            return PartitionSpec()
        fields, fid = [], SPEC_FIELD_ID_START
        names = {f.name for f in schema.fields}
        for entry in _split_top_level(parts):
            col, transform, alias = _parse_partition_entry(entry)
            if col not in names:
                raise DdlError(f"partition source column {col!r} not in schema")
            fields.append(
                PartitionField(
                    col,
                    transform,
                    alias or default_partition_name(col, transform),
                    fid,
                )
            )
            fid += 1
        return PartitionSpec(tuple(fields))

    def _drop_table(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        db, tbl = m.group("db"), m.group("tbl")
        resp.database_name, resp.table_name = db, tbl
        resp.change_type = "DROP TABLE"
        if not self.catalog.table_exists(db, tbl):
            if m.group("ie"):
                resp.message_list.append(
                    f"Table {db}.{tbl} does not exist (IF EXISTS)"
                )
                return
            raise DdlError(f"table {db}.{tbl} does not exist")
        self.catalog.drop_table(db, tbl)
        resp.message_list.append(f"Dropped table {db}.{tbl}")

    # ------------------------------------------------------------------

    # per-procedure argument name -> required Python type; coercion is
    # semantic, not syntactic: `older_than_ms => '123'` (quoted digits)
    # coerces cleanly, `retain_last => 'x'` raises DdlError naming the
    # argument instead of an opaque TypeError downstream
    _CALL_PROCS: dict[str, dict[str, type]] = {
        "expire_snapshots": {"retain_last": int, "older_than_ms": int},
        "expire_metadata_versions": {"keep_last": int},
        "remove_orphan_files": {},
        "rewrite_data_files": {"sort_by": str, "target_files": int},
        "rewrite_position_delete_files": {},
        "rewrite_manifests": {},
        "add_files": {"source_dir": str},
        "rollback_to_snapshot": {"snapshot_id": str},
        "fast_forward": {"branch": str},
    }

    def _call(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        """Maintenance procedures, mirroring Iceberg's Spark SQL
        extension: ``CALL system.expire_snapshots('db.tbl',
        retain_last => 1)``, ``CALL system.remove_orphan_files(
        'db.tbl')``, ``CALL system.rewrite_data_files('db.tbl'
        [, sort_by => 'c1,c2'])`` (compaction, optionally sorted)."""
        proc = m.group("proc").lower()
        if proc not in self._CALL_PROCS:
            raise DdlError(
                f"unknown procedure system.{proc}; supported: "
                f"{sorted(self._CALL_PROCS)}"
            )
        parts = [
            p for p in _split_top_level(m.group("args"), angles=False) if p
        ]
        if not parts or not re.fullmatch(r"'[^']+\.[^']+'", parts[0]):
            raise DdlError(
                "CALL requires a positional 'db.tbl' first argument"
            )
        db, tbl = parts[0][1:-1].split(".", 1)
        resp.database_name, resp.table_name = db, tbl
        resp.change_type = f"CALL {proc}"
        table = self.catalog.load_table(db, tbl)
        if table is None:
            raise DdlError(f"table {db}.{tbl} does not exist")
        kwargs: dict[str, object] = {}
        for p in parts[1:]:
            km = re.fullmatch(r"(\w+)\s*=>\s*('[^']*'|\d+)", p)
            if not km:
                raise DdlError(f"bad CALL argument {p!r} (name => value)")
            k, v = km.group(1).lower(), km.group(2)
            if k not in self._CALL_PROCS[proc]:
                raise DdlError(
                    f"system.{proc} does not accept {k!r}; allowed: "
                    f"{sorted(self._CALL_PROCS[proc])}"
                )
            raw = v[1:-1] if v.startswith("'") else v
            want = self._CALL_PROCS[proc][k]
            if want is int:
                try:
                    kwargs[k] = int(raw)
                except ValueError:
                    raise DdlError(
                        f"system.{proc} argument {k!r} must be an "
                        f"integer, got {raw!r}"
                    ) from None
            else:
                kwargs[k] = raw
        if proc == "expire_snapshots":
            ids = table.expire_snapshots(
                older_than_ms=kwargs.get("older_than_ms"),
                retain_last=int(kwargs.get("retain_last", 0)),
            )
            resp.message_list.append(
                f"expire_snapshots {db}.{tbl}: expired {len(ids)} "
                f"snapshot(s){': ' + ', '.join(ids) if ids else ''}"
            )
        elif proc == "remove_orphan_files":
            removed = table.remove_orphan_files()
            resp.message_list.append(
                f"remove_orphan_files {db}.{tbl}: removed "
                f"{len(removed)} orphan dir(s)"
            )
        elif proc == "fast_forward":
            name = kwargs.get("branch")
            if not name:
                raise DdlError("fast_forward requires branch => '...'")
            n = table.fast_forward(str(name))
            resp.message_list.append(
                f"fast_forward {db}.{tbl}: published {n} snapshot(s) "
                f"from branch {name!r}"
            )
        elif proc == "expire_metadata_versions":
            gone = table.expire_metadata_versions(
                keep_last=int(kwargs.get("keep_last", 10))
            )
            resp.message_list.append(
                f"expire_metadata_versions {db}.{tbl}: deleted "
                f"{len(gone)} metadata file(s)"
            )
        elif proc == "rewrite_position_delete_files":
            snap = table.compact_position_deletes(self.spark)
            resp.message_list.append(
                f"rewrite_position_delete_files {db}.{tbl}: "
                + (
                    f"merged into snapshot {snap.snapshot_id}"
                    if snap is not None
                    else "no-op (fewer than two position masks live)"
                )
            )
        elif proc == "add_files":
            sdir = kwargs.get("source_dir")
            if not sdir:
                raise DdlError("add_files requires source_dir => '...'")
            snap = table.add_files(str(sdir))
            resp.message_list.append(
                f"add_files {db}.{tbl}: imported "
                f"{len(snap.files)} file(s) as snapshot "
                f"{snap.snapshot_id}"
            )
        elif proc == "rewrite_manifests":
            snap = table.rewrite_manifests()
            resp.message_list.append(
                f"rewrite_manifests {db}.{tbl}: "
                + (
                    f"folded {len(snap.source_snapshots)} live manifest "
                    f"list(s) into snapshot {snap.snapshot_id}"
                    if snap is not None
                    else "no-op (fewer than two live manifest lists)"
                )
            )
        elif proc == "rollback_to_snapshot":
            sid = kwargs.get("snapshot_id")
            if not sid:
                raise DdlError(
                    "rollback_to_snapshot requires snapshot_id => '...'"
                )
            table.rollback_to_snapshot(str(sid))
            resp.message_list.append(
                f"rollback_to_snapshot {db}.{tbl}: live state restored "
                f"to {sid}"
            )
        else:  # rewrite_data_files
            sort_by = kwargs.get("sort_by")
            table.compact(
                self.spark,
                sort_by=[c.strip() for c in str(sort_by).split(",")]
                if sort_by
                else None,
                # Iceberg's target-file-size knob, as an output count
                target_files=kwargs.get("target_files"),
            )
            resp.message_list.append(
                f"rewrite_data_files {db}.{tbl}: compacted live set to "
                "1 snapshot"
            )

    # ------------------------------------------------------------------

    def _alter(self, m: re.Match, resp: ProcessSchemaResponse) -> None:
        db, tbl = m.group("db"), m.group("tbl")
        resp.database_name, resp.table_name = db, tbl
        resp.change_type = "ALTER TABLE"
        table = self.catalog.load_table(db, tbl)
        if table is None:
            raise DdlError(f"table {db}.{tbl} does not exist")
        action = m.group("action").strip()

        if am := re.match(
            r"^ADD\s+COLUMNS?\s*(.*)$", action, re.IGNORECASE | re.DOTALL
        ):
            body = am.group(1).strip()
            if body.startswith("(") and body.endswith(")"):
                body = body[1:-1]
            self._add_columns(table, _split_top_level(body), resp)
        elif am := re.match(
            r"^DROP\s+COLUMN\s+([A-Za-z_][\w.]*)\s*$", action, re.IGNORECASE
        ):
            self._require_path(table, am.group(1))
            self._evolve(table, _drop_path(table.schema, am.group(1)), resp)
        elif am := re.match(
            r"^RENAME\s+TO\s+(?:([A-Za-z_]\w*)\.)?([A-Za-z_]\w*)\s*$",
            action,
            re.IGNORECASE,
        ):
            # table-level rename (Iceberg: ALTER TABLE ... RENAME TO):
            # same-database when the target is unqualified; routes to
            # the catalog (path move on LakeCatalog, pointer re-point
            # on GlueLakeCatalog)
            new_db = am.group(1) or db
            new_tbl = am.group(2)
            self.catalog.rename_table(db, tbl, new_db, new_tbl)
            resp.database_name, resp.table_name = new_db, new_tbl
            resp.message_list.append(
                f"Renamed table {db}.{tbl} to {new_db}.{new_tbl}"
            )
        elif am := re.match(
            r"^RENAME\s+COLUMN\s+([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)\s*$",
            action,
            re.IGNORECASE,
        ):
            old, new = am.group(1), am.group(2)
            v = table.rename_column(old, new)
            resp.message_list.append(
                f"Renamed column {old} to {new} (schema v{v})"
            )
        elif am := re.match(
            r"^ALTER\s+COLUMN\s+([A-Za-z_][\w.]*)\s+TYPE\s+(.+)$",
            action,
            re.IGNORECASE | re.DOTALL,
        ):
            self._require_path(table, am.group(1))
            new_type = _parse_type(self.spark, am.group(2))
            self._evolve(
                table,
                _update_path_type(table.schema, am.group(1), new_type),
                resp,
            )
        elif am := re.match(
            r"^ALTER\s+COLUMN\s+([A-Za-z_][\w.]*)\s+"
            r"(FIRST|AFTER\s+[A-Za-z_]\w*)\s*$",
            action,
            re.IGNORECASE,
        ):
            self._reorder(table, am.group(1), am.group(2), resp)
        elif am := re.match(
            r"^WRITE\s+ORDERED\s+BY\s+(.+)$",
            action,
            re.IGNORECASE | re.DOTALL,
        ):
            # Iceberg's own DDL verb for the declared sort order —
            # sugar over the write.sort-order property (one document:
            # SHOW CREATE round-trips it as TBLPROPERTIES)
            table.update_properties_validated(
                updates={"write.sort-order": am.group(1).strip()}
            )
            resp.message_list.append(
                f"Set write order {am.group(1).strip()!r} on {db}.{tbl}"
            )
        elif am := re.match(
            r"^WRITE\s+UNORDERED\s*$",
            action,
            re.IGNORECASE,
        ):
            table.update_properties_validated(removes=["write.sort-order"])
            resp.message_list.append(f"Cleared write order on {db}.{tbl}")
        elif am := re.match(
            r"^SET\s+TBLPROPERTIES\s*\((.+)\)\s*$",
            action,
            re.IGNORECASE | re.DOTALL,
        ):
            props = _parse_properties(am.group(1))
            # declaration surface: re-derives + validates the table
            # sort order when write.sort-order OR write.bucket-layout
            # changed (the composition rules depend on the layout), in
            # the SAME commit, reverting the in-memory handle on
            # failure — see update_properties_validated
            table.update_properties_validated(updates=props)
            resp.message_list.append(
                f"Set properties {sorted(props)} on {db}.{tbl}"
            )
        elif am := re.match(
            r"^UNSET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*$",
            action,
            re.IGNORECASE | re.DOTALL,
        ):
            keys = [
                k.strip().strip("'") for k in _split_top_level(am.group(1))
            ]
            # unsetting the bucket layout also re-derives: a sort
            # order constrained to the composable subset stays valid,
            # but the re-validation keeps the two properties one
            # document either way (same revert-on-failure surface as
            # SET — update_properties_validated)
            table.update_properties_validated(removes=keys)
            resp.message_list.append(
                f"Unset properties {sorted(keys)} on {db}.{tbl}"
            )
        elif am := re.match(
            r"^ADD\s+PARTITION\s+FIELD\s+(.+)$", action, re.IGNORECASE
        ):
            self._alter_spec(table, am.group(1), add=True, resp=resp)
        elif am := re.match(
            r"^DROP\s+PARTITION\s+FIELD\s+(.+)$", action, re.IGNORECASE
        ):
            self._alter_spec(table, am.group(1), add=False, resp=resp)
        elif am := re.match(
            r"^CREATE\s+TAG\s+([A-Za-z_][\w.-]*)"
            r"(?:\s+AS\s+OF\s+VERSION\s+'([^']+)')?\s*$",
            action,
            re.IGNORECASE,
        ):
            # Iceberg ref DDL (tag type): pins a snapshot by name
            table.create_tag(am.group(1), snapshot_id=am.group(2))
            resp.message_list.append(
                f"Created tag {am.group(1)!r} on {db}.{tbl} -> "
                f"{table.tags[am.group(1)]}"
            )
        elif am := re.match(
            r"^DROP\s+TAG\s+([A-Za-z_][\w.-]*)\s*$", action, re.IGNORECASE
        ):
            table.drop_tag(am.group(1))
            resp.message_list.append(
                f"Dropped tag {am.group(1)!r} on {db}.{tbl}"
            )
        elif am := re.match(
            r"^CREATE\s+BRANCH\s+([A-Za-z_][\w.-]*)\s*$", action, re.IGNORECASE
        ):
            table.create_branch(am.group(1))
            resp.message_list.append(
                f"Created branch {am.group(1)!r} on {db}.{tbl}"
            )
        elif am := re.match(
            r"^DROP\s+BRANCH\s+([A-Za-z_][\w.-]*)\s*$", action, re.IGNORECASE
        ):
            table.drop_branch(am.group(1))
            resp.message_list.append(
                f"Dropped branch {am.group(1)!r} on {db}.{tbl}"
            )
        else:
            raise DdlError(f"unrecognized ALTER action: {action[:80]!r}")

    @staticmethod
    def _require_path(table: LakeTable, path: str) -> None:
        """DROP/ALTER on a path the schema doesn't have must error —
        the underlying schema editors are silent no-ops for a missing
        leaf, which would mask typos as 'No schema changes detected'."""
        from .schema_diff import flatten  # noqa: PLC0415

        if path not in flatten(table.schema):
            raise DdlError(f"column {path!r} not found in {table.identifier}")

    def _add_columns(
        self, table: LakeTable, defs: list[str], resp: ProcessSchemaResponse
    ) -> None:
        target = table.schema
        for d in defs:
            fld = _parse_col_def(self.spark, d)
            path = fld.name
            leaf = path.rsplit(".", 1)[-1]
            if "." in path:
                target = _add_nested(
                    target,
                    path,
                    T.StructField(leaf, fld.dataType, fld.nullable),
                )
            else:
                target = T.StructType([*target.fields, fld])
        self._evolve(table, target, resp)

    def _evolve(
        self,
        table: LakeTable,
        target: T.StructType,
        resp: ProcessSchemaResponse,
        spec: PartitionSpec | None = None,
    ) -> None:
        """Route the mutated target through the standard evolution
        planner — same validation, messages, and atomicity as the
        config-document path (handler.process_event)."""
        result = evolve_table(table, target, spec)
        resp.message_list.extend(result.messages)
        if result.has_error:
            resp.message_list.extend(result.errors)
            resp.has_error = True
        elif not result.changed:
            resp.message_list.append("No schema changes detected")

    def _reorder(
        self,
        table: LakeTable,
        path: str,
        position: str,
        resp: ProcessSchemaResponse,
    ) -> None:
        """FIRST/AFTER — a pure reorder carries no add/drop/update
        record, so it commits directly (the evolution planner's reorder
        pass only runs piggybacked on other changes)."""
        if "." in path:
            parent, leaf = path.rsplit(".", 1)
        else:
            parent, leaf = None, path

        def move(st: T.StructType) -> T.StructType:
            names = [f.name for f in st.fields]
            if leaf not in names:
                raise DdlError(f"column {path!r} not found")
            fld = st[leaf]
            rest = [f for f in st.fields if f.name != leaf]
            if position.upper() == "FIRST":
                return T.StructType([fld, *rest])
            anchor = position.split(None, 1)[1]
            if anchor not in [f.name for f in rest]:
                raise DdlError(f"AFTER anchor {anchor!r} not found")
            out = []
            for f in rest:
                out.append(f)
                if f.name == anchor:
                    out.append(fld)
            return T.StructType(out)

        if parent is None:
            new_schema = move(table.schema)
        else:
            from .evolution import _edit_struct_at  # noqa: PLC0415

            new_schema = _edit_struct_at(table.schema, parent.split("."), move)
        version = table.commit_schema(new_schema)
        resp.message_list.append(
            f"Moved column {path} {position.upper()} (schema v{version})"
        )

    def _alter_spec(
        self,
        table: LakeTable,
        entry: str,
        add: bool,
        resp: ProcessSchemaResponse,
    ) -> None:
        col, transform, alias = _parse_partition_entry(entry.strip())
        name = alias or default_partition_name(col, transform)
        live = table.partition_spec
        if add:
            if col not in {f.name for f in table.schema.fields}:
                raise DdlError(
                    f"partition source column {col!r} not in schema"
                )
            if any(f.name == name for f in live.fields):
                raise DdlError(f"partition field {name!r} already exists")
            target = PartitionSpec(
                (
                    *live.fields,
                    PartitionField(col, transform, name, 0),  # id re-minted
                )
            )
        else:
            # a bare identifier may be the FIELD NAME rather than an
            # identity-transform source column — match either form
            def hit(f: PartitionField) -> bool:
                return (
                    f.name == name
                    or (f.source_column == col and f.transform == transform)
                    or (transform == "identity" and alias is None and f.name == col)
                )

            keep = [f for f in live.fields if not hit(f)]
            if len(keep) == len(live.fields):
                raise DdlError(f"partition field {entry.strip()!r} not found")
            target = PartitionSpec(tuple(keep))
        self._evolve(table, table.schema, resp, spec=target)
