"""The benchmark's three workloads.

Each workload has ``prepare`` (input preparation, once per set-up),
``warmup`` (one untimed pass), ``run_pass`` (one timed pass, returning
one ``Op`` per operation), ``stats`` (sizes and counts of the last
recorded pass) and ``check`` (the untimed correctness check, once per
run). Every call into the package goes through ``tr.span`` with the
layer's name, so the traced run gets one span per call; the untraced run
pays only a no-op context manager and does exactly the same work.

- ``headline``: the 17 read queries of ``bench.py`` through the noop
  sink, on fixed data. Only the read path runs: operators and Spark
  execution.
- ``lake_dml``: a month-partitioned table built from ``orders`` goes
  through create, appends, DDL evolution, merge-on-read MERGE and DELETE,
  scans, a copy-on-write UPDATE, compaction, manifest rewrite, snapshot
  expiry and the Iceberg export and read-back. Every scan builds a fresh
  plan, so the plan memo is bypassed; commit history stays short.
- ``schema_events``: seeded ALTER table definitions sent through
  ``handler.process_event`` to a table with a long schema and snapshot
  history, each followed by a reload; once per pass, a ``to_df`` whose
  physical plan is built but not executed. Almost no Spark execution:
  the metadata plane does the work.
"""

from __future__ import annotations

import copy
import datetime as dt
import json
import random
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

# The headline query list, copied from bench.HEADLINE so that an edit to
# bench.py cannot change this workload.
HEADLINE = [
    "b03_join_inner_3way",
    "b12_agg_pricing_summary",
    "b13_agg_count_distinct",
    "b16_agg_having",
    "b18_window_ranking",
    "b20_window_running_frame",
    "b21_topk",
    "b36_dedup_keep_first",
    "b42_udtf_explode",
    "b54_sessionize_batch",
    "b62_asof_join",
    "c01_dedup_exact",
    "c02_dedup_minhash_lsh",
    "c04_dedup_ngram_jaccard",
    "c05_cosine_topk_brute",
    "c09_token_count",
    "c15_tfidf_top_terms",
]


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool = True
    error: str = ""
    # counts in event_p50_s / event_p90_s
    latency: bool = True


class OpFailed(Exception):
    """An operation returned a wrong result."""


def _run_op(ops: list[Op], tr, name: str, fn, latency: bool = True):
    """Time one operation under a root span; an exception or a wrong
    result marks it failed instead of ending the pass."""
    tr.set_op(f"{name}#{len(ops)}")
    t0 = time.perf_counter()
    try:
        with tr.span(name):
            out = fn()
        ops.append(Op(name, time.perf_counter() - t0, latency=latency))
        return out
    except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
        err = f"{type(e).__name__}: {e}"[:300]
        ops.append(Op(name, time.perf_counter() - t0, False, err, latency))
        return None


def _force_plan(df) -> None:
    """Build the DataFrame's physical plan without executing it."""
    df._jdf.queryExecution().executedPlan()


# ---------------------------------------------------------------------------
# headline
# ---------------------------------------------------------------------------


class Headline:
    name = "headline"
    cold_first_pass = False

    def __init__(self, pkg, data_dir: Path, seed: int, work: Path, cache: Path):
        # fixed data: the seed picks nothing here
        self.pkg = pkg
        self.sf = str(data_dir)
        self.work = work
        self.cache = cache

    def prepare(self, spark, tr) -> None:
        pass

    def warmup(self, spark, tr) -> None:
        """Collect every query once: this builds the session's table memo
        and derived scan layouts and warms the JIT, and its rows and plan
        fingerprints are what ``check`` compares after the timed window."""
        self.rows, self.fingerprints, self.errors = {}, {}, {}
        for name in HEADLINE:
            try:
                df = self.pkg.QUERIES[name](spark, self.sf)
                self.fingerprints[name] = self.pkg.bench.plan_fingerprint(df)
                cols = sorted(df.columns)
                self.rows[name] = (cols, [tuple(r[c] for c in cols) for r in df.collect()])
            except Exception as e:  # noqa: BLE001
                self.errors[name] = f"{type(e).__name__}: {e}"[:300]

    def run_pass(self, spark, tr) -> list[Op]:
        """Per query: build the DataFrame (``operators.construct``), force
        its physical plan (``operators.plan``), then run it through the
        noop sink (``operators.exec``). The noop write re-optimizes the
        analyzed plan, which counts in ``operators.exec``. Traced and
        untraced passes do the same work."""
        ops: list[Op] = []
        queries, materialize = self.pkg.QUERIES, self.pkg.bench.materialize
        for name in HEADLINE:

            def one(name=name):
                with tr.span("operators.construct"):
                    df = queries[name](spark, self.sf)
                with tr.span("operators.plan"):
                    _force_plan(df)
                with tr.span("operators.exec", spark_counters=True):
                    materialize(df)

            _run_op(ops, tr, f"query.{name}", one)
        return ops

    def stats(self) -> dict:
        return {}

    def _oracles(self) -> dict:
        """Every oracle's result on the fixed data: (column names, rows,
        DuckDB seconds). Data and SQL are fixed, so the first run in a
        checkout computes them and later runs read them back; the
        seconds are a reference field, not a metric."""
        import hashlib
        import os
        import pickle

        key = hashlib.sha256(repr([
            [(n, self.pkg.ORACLES[n]) for n in HEADLINE],
            [(tb, os.stat(f"{self.sf}/{tb}.parquet").st_size) for tb in self.pkg.TABLES],
        ]).encode()).hexdigest()[:16]
        path = self.cache / f"duckdb-oracles-{key}.pickle"
        if path.is_file():
            return pickle.loads(path.read_bytes())
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for tb in self.pkg.TABLES:
            con.execute(
                f"CREATE VIEW {tb} AS SELECT * FROM read_parquet('{self.sf}/{tb}.parquet')"
            )
        out = {}
        for name in HEADLINE:
            t0 = time.perf_counter()
            res = con.execute(self.pkg.ORACLES[name])
            rows = res.fetchall()
            out[name] = ([d[0] for d in res.description], rows, time.perf_counter() - t0)
        con.close()
        self.cache.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_bytes(pickle.dumps(out))
        tmp.replace(path)
        return out

    def check(self, spark) -> tuple[list[str], dict]:
        """Compare the warm-up's rows of every query with its DuckDB
        oracle using tools/check_correctness.py's own comparator. Floats
        are compared to 10 significant digits: a sum of doubles depends
        on the order of its terms, which differs between the engines."""
        cc = self.pkg.check_correctness
        oracles = self._oracles()
        failures = [f"query.{n}: {e}" for n, e in self.errors.items()]
        for name, (cols, srows) in self.rows.items():
            names, rows, _ = oracles[name]
            try:
                idx = [names.index(c) for c in cols]
            except ValueError:
                failures.append(f"query.{name}: columns {cols} != oracle columns {names}")
                continue
            drows = [tuple(r[i] for i in idx) for r in rows]
            ok, detail = cc.compare(_round_floats(srows), _round_floats(drows), cols)
            if not ok:
                failures.append(f"query.{name}: {detail}")
        duck_s = {n: round(o[2], 6) for n, o in oracles.items()}
        return failures, {
            "plan_fingerprints": self.fingerprints,
            "duckdb_s": duck_s,
            "duckdb_total_s": round(sum(duck_s.values()), 6),
        }


def _round_floats(v):
    if isinstance(v, float):
        return v if v != v else float(f"{v:.10g}")
    if isinstance(v, list):
        return [_round_floats(x) for x in v]
    if isinstance(v, tuple):
        return tuple(_round_floats(x) for x in v)
    return v


# ---------------------------------------------------------------------------
# lake_dml
# ---------------------------------------------------------------------------

_BATCHES = 4
_MERGE_UPDATES = 2000
_MERGE_INSERTS = 500
_DELETE_FRAC = 0.05

_DDL = (
    "ALTER TABLE bench.orders ADD COLUMN ship struct<mode:string,fee:double>",
    "ALTER TABLE bench.orders ADD COLUMN ship.carrier string",
    "ALTER TABLE bench.orders RENAME COLUMN o_orderpriority TO o_priority",
    "ALTER TABLE bench.orders ALTER COLUMN o_totalprice FIRST",
    "ALTER TABLE bench.orders DROP PARTITION FIELD months(o_orderdate)",
    "ALTER TABLE bench.orders ADD PARTITION FIELD years(o_orderdate)",
)


class LakeDml:
    """Event latencies here are those of the steps that run Spark jobs
    (appends, merge, delete, scans, update, compaction, read-back). The
    metadata-only steps take milliseconds, and counted with the others
    they would put the median on the gap between the two groups."""

    name = "lake_dml"
    # no warm-up (see ``warmup``): the first timed pass is the cold one
    cold_first_pass = True

    def __init__(self, pkg, data_dir: Path, seed: int, work: Path, cache: Path):
        self.pkg = pkg
        self.src_path = str(data_dir / "orders.parquet")
        self.work = work
        self.rng = random.Random(seed)
        self.n_pass = 0
        self.aggs: list = []
        self.last_stats: dict = {}

    # -- inputs --------------------------------------------------------

    def prepare(self, spark, tr) -> None:
        """Draw the pass's mutations from the seed. ``orders`` keys are
        dense (0 .. n-1), so key ranges and key samples address rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = pq.read_metadata(self.src_path).num_rows
        self.n_rows = n
        self.src_bytes = Path(self.src_path).stat().st_size
        rng = self.rng
        # key-range batches: seeded cut points, fixed batch count
        cuts = sorted(rng.sample(range(n // 8, n - n // 8), _BATCHES - 1))
        self.bounds = list(zip([0, *cuts], [*cuts, n]))
        self.upd_keys = sorted(rng.sample(range(n), min(_MERGE_UPDATES, n // 4)))
        self.ins_keys = list(range(n, n + min(_MERGE_INSERTS, max(1, n // 20))))
        width = int(n * _DELETE_FRAC)
        lo = rng.randrange(0, n - width)
        self.delete_pred = f"o_orderkey >= {lo} AND o_orderkey < {lo + width}"
        self.update_pred = f"o_custkey % 10 = {rng.randrange(0, 10)}"
        # merge source, a parquet file under the table's evolved column
        # names: updates change price and status; inserts are new orders;
        # prices in whole cents so sums compare exactly
        keys = self.upd_keys + self.ins_keys
        base = dt.datetime(1995, 1, 1)
        self.merge_src = pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array([rng.randrange(0, 1000) for _ in keys], pa.int64()),
            "o_orderstatus": [rng.choice(["F", "O", "P"]) for _ in keys],
            "o_totalprice": [rng.randrange(100_000, 50_000_000) / 100.0 for _ in keys],
            "o_orderdate": pa.array(
                [base + dt.timedelta(days=rng.randrange(0, 2400)) for _ in keys],
                pa.timestamp("us"),
            ),
            "o_priority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]) for _ in keys],
        })
        self.merge_src_path = str(self.work / "merge_src.parquet")
        pq.write_table(self.merge_src, self.merge_src_path)
        self.source = spark.read.parquet(self.src_path)
        self.source_schema = self.source.schema

    def warmup(self, spark, tr) -> None:
        """No warm-up pass: a pass takes about 35 s cold and 17 s warm on
        4 cores, and a run has room for one. The timed pass is the
        session's first, so it includes the JIT warm-up of the
        table-format paths."""

    def run_pass(self, spark, tr) -> list[Op]:
        return self._pass(spark, tr, record=True)

    def stats(self) -> dict:
        return self.last_stats

    # -- one pass ------------------------------------------------------

    def _agg(self, df) -> list[tuple]:
        from pyspark.sql import functions as F

        rows = (
            df.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
                F.sum(F.when(F.col("o_priority") == "9-BENCH", 1).otherwise(0)).alias("upd"),
            )
            .collect()
        )
        return sorted((r["o_orderstatus"], r["n"], r["cents"], r["upd"]) for r in rows)

    def _pass(self, spark, tr, record: bool) -> list[Op]:
        pkg = self.pkg
        from pyspark.sql import functions as F

        self.n_pass += 1
        wh = self.work / f"lake-{self.n_pass}"
        cat = pkg.LakeCatalog(wh)
        ddl = pkg.DdlFrontend(spark, cat)
        ops: list[Op] = []
        t = {}

        def create():
            spec = pkg.compile_partition_spec(
                {"partitions": [{"column_name": "o_orderdate", "transform": "month"}]}
            )
            with tr.span("table_format.create"):
                t["tbl"] = cat.create_table(
                    "bench", "orders", self.source_schema, spec,
                    properties={"write.distribution-mode": "hash"},
                )

        _run_op(ops, tr, "lake.create", create, latency=False)
        for i, (lo, hi) in enumerate(self.bounds):
            batch = self.source.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))

            def append(batch=batch):
                with tr.span("table_format.append", spark_counters=True):
                    t["tbl"].append(batch)

            _run_op(ops, tr, f"lake.append{i}", append)

        for stmt in _DDL:

            def ddl_op(stmt=stmt):
                with tr.span("ddl.sql"):
                    resp = ddl.sql(stmt)
                if resp.has_error:
                    raise OpFailed("; ".join(resp.message_list))
                with tr.span("table_format.load"):
                    t["tbl"] = cat.load_table("bench", "orders")

            _run_op(ops, tr, "lake.ddl", ddl_op, latency=False)

        def merge():
            tbl = t["tbl"]
            have = set(self.merge_src.column_names)
            src = spark.read.parquet(self.merge_src_path).select([
                F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
                for f in tbl.schema.fields
            ])
            with tr.span("table_format.merge_into", spark_counters=True):
                tbl.merge_into(
                    spark, src, ["o_orderkey"],
                    when_matched_update={
                        "o_totalprice": "s_o_totalprice",
                        "o_orderstatus": "s_o_orderstatus",
                    },
                    strategy="merge_on_read",
                )

        _run_op(ops, tr, "lake.merge_into", merge)

        def delete():
            with tr.span("table_format.delete_where", spark_counters=True):
                t["tbl"].delete_where(spark, self.delete_pred, strategy="merge_on_read")

        _run_op(ops, tr, "lake.delete_where", delete)

        def scan(label: str):
            def fn():
                with tr.span("table_format.to_df"):
                    df = t["tbl"].to_df(spark)
                with tr.span("scan.exec", spark_counters=True):
                    t[label] = self._agg(df)

            _run_op(ops, tr, f"lake.scan_{label}", fn)

        scan("after_delete")

        def update():
            with tr.span("table_format.update_where", spark_counters=True):
                t["tbl"].update_where(
                    spark, self.update_pred, {"o_priority": "'9-BENCH'"},
                    strategy="copy_on_write",
                )

        _run_op(ops, tr, "lake.update_where", update)
        scan("before_compact")

        def compact():
            with tr.span("table_format.compact", spark_counters=True):
                t["tbl"].compact(spark)

        _run_op(ops, tr, "lake.compact", compact)
        scan("after_compact")

        def rewrite():
            with tr.span("table_format.rewrite_manifests"):
                t["tbl"].rewrite_manifests()

        _run_op(ops, tr, "lake.rewrite_manifests", rewrite, latency=False)

        def expire():
            with tr.span("table_format.expire_snapshots"):
                t["tbl"].expire_snapshots(retain_last=1)

        _run_op(ops, tr, "lake.expire_snapshots", expire, latency=False)

        def export():
            with tr.span("iceberg_export.export", spark_counters=True):
                pkg.export_to_iceberg(t["tbl"], spark)

        _run_op(ops, tr, "lake.export", export, latency=False)

        def read_back():
            with tr.span("iceberg_export.read"):
                df, _doc = pkg.read_iceberg_table(spark, t["tbl"].location)
            with tr.span("scan.exec", spark_counters=True):
                t["exported"] = self._agg(df)

        _run_op(ops, tr, "lake.read_iceberg", read_back)

        # untimed: internal consistency of this pass's results
        if t.get("after_compact") is not None:
            if t.get("before_compact") != t["after_compact"]:
                ops.append(Op("check.compaction", 0.0, False, "aggregate changed by compact()"))
            if t.get("exported") != t["after_compact"]:
                ops.append(Op("check.export", 0.0, False, "export read-back differs from to_df"))
        if record:
            self.aggs.append(t.get("after_compact"))
            if "tbl" in t:
                self.last_stats = self._table_stats(Path(t["tbl"].location), t["tbl"])
        shutil.rmtree(wh, ignore_errors=True)
        return ops

    def _table_stats(self, loc: Path, tbl) -> dict:
        files = [p for p in loc.rglob("*") if p.is_file()]
        data = [p for p in files if p.suffix == ".parquet" and "metadata" not in p.parts]
        manifests = list((loc / "metadata").glob("*.avro"))
        rows_written = self.n_rows + len(self.ins_keys)
        return {
            "stored_bytes_ratio": sum(p.stat().st_size for p in files)
            / (self.src_bytes * rows_written / self.n_rows),
            "table_format.live_snapshots": len(tbl.snapshots),
            "warehouse.data_files_written": len(data),
            "warehouse.data_bytes_written": sum(p.stat().st_size for p in data),
            "iceberg_export.manifest_bytes": sum(p.stat().st_size for p in manifests),
        }

    def check(self, spark) -> tuple[list[str], dict]:
        """Replay the same seeded mutations in DuckDB on orders.parquet and
        compare the final aggregate of every recorded pass with it."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 1")
        con.execute(
            f"CREATE TABLE t AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            f"o_orderdate, o_orderpriority AS o_priority FROM read_parquet('{self.src_path}')"
        )
        con.register("src", self.merge_src)
        con.execute(
            "UPDATE t SET o_totalprice = src.o_totalprice, o_orderstatus = src.o_orderstatus "
            "FROM src WHERE t.o_orderkey = src.o_orderkey"
        )
        con.execute(
            "INSERT INTO t SELECT * FROM src "
            "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"
        )
        con.execute(f"DELETE FROM t WHERE {self.delete_pred}")
        con.execute(f"UPDATE t SET o_priority = '9-BENCH' WHERE {self.update_pred}")
        want = sorted(
            tuple(r) for r in con.execute(
                "SELECT o_orderstatus, count(*), "
                "sum(CAST(round(o_totalprice * 100) AS BIGINT)), "
                "sum(CASE WHEN o_priority = '9-BENCH' THEN 1 ELSE 0 END) "
                "FROM t GROUP BY 1"
            ).fetchall()
        )
        con.close()
        failures = [
            f"lake_dml pass {i}: final aggregate {got} != DuckDB replay {want}"
            for i, got in enumerate(self.aggs)
            if got != want
        ]
        return failures, {"final_aggregate": want}


# ---------------------------------------------------------------------------
# schema_events
# ---------------------------------------------------------------------------

_HISTORY_VERSIONS = 100
_HISTORY_SNAPSHOTS = 10
# bump when the template build changes, so cached templates are rebuilt
_TEMPLATE_VERSION = 4
_EVENTS_PER_PASS = 100
# events of the warm-up pass: enough to warm every code path of an event
_WARMUP_EVENTS = 10
# bound on generated columns alive at once, so the schema width (and the
# cost of aligning a snapshot to it) stays flat while history grows
_MAX_ADDED = 6
_TRANSFORMS = ["year", "month", "day"]
# the kinds of change, in a fixed cycle: every seed sends the same mix,
# and the seed picks the columns, types and transforms
_KINDS = ["add", "add", "drop", "rename", "partition"]
_RENAMABLE = [("customer_name", "buyer_name")]


class EventGen:
    """Seeded walk over table definitions: each step adds, drops or
    renames a column (nested adds go into the ``address`` struct and the
    ``order_items`` element struct) or flips the partition transform, in
    the order of ``_KINDS``. Added columns are nullable so generated rows
    still conform."""

    def __init__(self, base: dict, seed: int, start: int = 0):
        self.d = copy.deepcopy(base)
        self.rng = random.Random(seed)
        # step counter; added columns are named ``x_<step>``
        self.n = start

    def _structs(self) -> list[list[dict]]:
        cols = self.d["columns"]
        out = [cols]
        for c in cols:
            if c["column_name"] == "address":
                out.append(c["struct_def"])
            if c["column_name"] == "order_items":
                out.append(c["array_def"]["struct_def"])
        return out

    def step(self) -> dict:
        self.n += 1
        d, rng = self.d, self.rng
        d.pop("renames", None)
        kind = _KINDS[self.n % len(_KINDS)]
        added = [
            (st, c) for st in self._structs() for c in st
            if c["column_name"].startswith("x_")
        ]
        if len(added) >= _MAX_ADDED:
            kind = "drop"
        if kind == "drop" and added:
            st, c = rng.choice(added)
            st.remove(c)
        elif kind == "rename":
            names = {c["column_name"] for c in d["columns"]}
            for a, b in _RENAMABLE:
                frm, to = (a, b) if a in names else (b, a)
                if frm in names:
                    for c in d["columns"]:
                        if c["column_name"] == frm:
                            c["column_name"] = to
                    d["renames"] = [{"from": frm, "to": to}]
        elif kind == "partition":
            cur = d["partitions"][0]["transform"]
            d["partitions"] = [{
                "column_name": "order_time",
                "transform": rng.choice([t for t in _TRANSFORMS if t != cur]),
            }]
        else:
            st = rng.choice(self._structs())
            st.append({
                "column_name": f"x_{self.n}",
                "data_type": rng.choice(["string", "int", "double", "boolean"]),
            })
        return copy.deepcopy(d)


class SchemaEvents:
    name = "schema_events"
    cold_first_pass = False

    def __init__(self, pkg, data_dir: Path, seed: int, work: Path, cache: Path):
        self.pkg = pkg
        self.seed = seed
        self.work = work
        self.cache = cache
        self.n_pass = 0
        self.last_stats: dict = {}

    def _template(self, spark) -> Path:
        """The long-history table: v1, v2, then a fixed-seed walk of
        ``_HISTORY_VERSIONS`` definitions with ``_HISTORY_SNAPSHOTS``
        appends spread through it. It does not depend on the run's seed,
        so the first run in a checkout builds it and later runs reuse it;
        each pass works on a fresh copy."""
        pkg = self.pkg
        dest = self.cache / (
            f"events-template-v{_HISTORY_VERSIONS}-s{_HISTORY_SNAPSHOTS}-g{_TEMPLATE_VERSION}"
        )
        if dest.is_dir():
            return dest
        tmp = self.work / "template-build"
        shutil.rmtree(tmp, ignore_errors=True)
        cat = pkg.LakeCatalog(tmp / "table")
        path = tmp / "def.json"
        hist = EventGen(self.v2, seed=0)
        every = max(1, _HISTORY_VERSIONS // _HISTORY_SNAPSHOTS)
        for i in range(-1, _HISTORY_VERSIONS):
            doc = self.v1 if i < 0 else self.v2 if i == 0 else hist.step()
            path.write_text(json.dumps(doc))
            _expect_ok(pkg.process_event(spark, cat, str(path)))
            if i >= 0 and i % every == 0:
                pkg.insert_orders(
                    spark, cat.load_table("customer_order", "orders"), "v2", seed=i
                )
        (tmp / "final.json").write_text(json.dumps(hist.d))
        self.cache.mkdir(parents=True, exist_ok=True)
        try:
            tmp.rename(dest)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
        return dest

    def prepare(self, spark, tr) -> None:
        pkg = self.pkg
        assets = Path(pkg.handler.__file__).parent / "assets"
        self.v1 = json.loads((assets / "orders_v1.json").read_text())
        self.v2 = json.loads((assets / "orders_v2.json").read_text())
        self.template = self._template(spark)
        # the pass's events continue the walk from the template's state,
        # drawn from the run's seed; their targets are compiled here. The
        # step count goes on past the template's (its walk takes fewer than
        # _HISTORY_VERSIONS steps), so a new column never reuses the name
        # of one the history added, live or dropped; _HISTORY_VERSIONS is
        # a multiple of len(_KINDS), so the cycle of kinds starts over.
        walk = EventGen(
            json.loads((self.template / "final.json").read_text()),
            seed=self.seed, start=_HISTORY_VERSIONS,
        )
        defs = self.work / "events-defs"
        defs.mkdir(parents=True, exist_ok=True)
        self.events = []
        for i in range(_EVENTS_PER_PASS):
            doc = walk.step()
            p = defs / f"event-{i}.json"
            p.write_text(json.dumps(doc))
            self.events.append((str(p), pkg.compile_schema(doc), pkg.compile_partition_spec(doc)))

    def warmup(self, spark, tr) -> None:
        self._pass(spark, tr, self.events[:_WARMUP_EVENTS], record=False)

    def run_pass(self, spark, tr) -> list[Op]:
        return self._pass(spark, tr, self.events, record=True)

    def stats(self) -> dict:
        return self.last_stats

    def _pass(self, spark, tr, events: list, record: bool) -> list[Op]:
        """The events, each timed from ``process_event`` through the
        reload, then one scan plan over the whole history. Building
        ``to_df`` over tens of snapshots costs seconds, so it is done
        once per pass rather than after every event."""
        pkg = self.pkg
        self.n_pass += 1
        wh = self.work / f"events-{self.n_pass}"
        shutil.copytree(self.template / "table", wh)
        meta_dir = wh / "customer_order" / "orders" / "_meta"
        before = {p.name for p in meta_dir.iterdir()}
        cat = pkg.LakeCatalog(wh)
        ops: list[Op] = []
        flatten = pkg.schema_diff.flatten
        got = {}
        for path, want_schema, want_spec in events:

            def event(path=path):
                with tr.span("handler.process_event"):
                    got["resp"] = pkg.process_event(spark, cat, path)
                with tr.span("table_format.load"):
                    got["tbl"] = cat.load_table("customer_order", "orders")

            _run_op(ops, tr, "event", event)
            if not ops[-1].ok:
                continue
            # untimed: the response and the live state match the target
            tbl = got["tbl"]
            why = ""
            if got["resp"].has_error:
                why = "; ".join(got["resp"].message_list)[:300]
            elif _flat(flatten(tbl.schema)) != _flat(flatten(want_schema)):
                why = "live schema differs from the compiled target"
            elif not pkg.specs_equal(tbl.partition_spec, want_spec):
                why = "live partition spec differs from the compiled target"
            if why:
                ops[-1].ok, ops[-1].error = False, why

        def scan_plan():
            with tr.span("table_format.to_df"):
                df = got["tbl"].to_df(spark)
            with tr.span("table_format.scan_plan"):
                _force_plan(df)

        _run_op(ops, tr, "scan_plan", scan_plan, latency=False)
        if record:
            new = [p for p in meta_dir.glob("v*.metadata.json") if p.name not in before]
            cur = meta_dir / f"v{(meta_dir / 'version-hint.text').read_text().strip()}.metadata.json"
            self.last_stats = {
                "table_format.metadata_json_bytes": cur.stat().st_size,
                "table_format.metadata_bytes_per_commit":
                    sum(p.stat().st_size for p in new) / max(1, len(new)),
                "table_format.live_snapshots": len(got["tbl"].snapshots) if "tbl" in got else 0,
            }
        shutil.rmtree(wh, ignore_errors=True)
        return ops

    def check(self, spark) -> tuple[list[str], dict]:
        # every event was checked against its compiled target in the pass
        return [], {"events_per_pass": _EVENTS_PER_PASS}


def _expect_ok(resp) -> None:
    if resp.has_error:
        raise RuntimeError("; ".join(resp.message_list))


def _flat(flat: dict) -> list[tuple]:
    return [(p, f.dtype.simpleString(), f.required) for p, f in flat.items()]


WORKLOADS = {w.name: w for w in (Headline, LakeDml, SchemaEvents)}
