"""The three benchmark workloads, each run as whole passes.

query-mix     3 closed-loop clients over a fixed sample of the read-only
              declared queries, in a seeded order.
etl-script    one client running a nightly Presto-SQL script through
              ``dml.run_script``; every statement is one operation.
curate-batch  one client running a fixed batch of ``llm_*`` curation
              queries in declaration order.

Every operation's output is checked against DuckDB after the timed
window: declared queries against ``registry.ORACLES`` through
``oracle.canonical_frame``, the script's statements, final tables and
report against the same script written for DuckDB.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.tracing import written

#: declared queries whose builders write tables or files (parquet/CSV
#: sinks, DML faces, streaming memory sinks with checkpoints)
WRITING_MODULES = (
    "sparketl.operators.dml_queries",
    "sparketl.sources.connectors",
    "sparketl.operators.etl",
)
WRITING_PREFIXES = ("stream_",)

#: query-mix runs every QUERY_MIX_STRIDE-th read-only query by name:
#: a fixed sample, so every seed measures the same statements
QUERY_MIX_STRIDE = 7
QUERY_MIX_CLIENTS = 3
#: the clients take queries from one fixed permutation; the run's seed
#: varies the data only
QUERY_MIX_ORDER_SEED = 0

#: curate-batch: one query per curation mechanism, declaration order
CURATE_BATCH = (
    "llm_dedup_exact",  # exact-hash dedup, one aggregate
    "llm_semantic_dedup",  # k-means clusters deduped in applyInPandas
    "llm_text_quality",  # per-document quality heuristics
    "llm_contamination_ngram",  # n-gram shuffle against a benchmark set
    "llm_dedup_components",  # MinHash band pairs + iterative components
    "llm_multimodal_features",  # Arrow-batched feature extraction
)


@dataclass
class Op:
    """One timed operation: a declared query or a script statement."""

    op_id: int
    name: str
    pass_no: int
    start: float
    end: float = 0.0
    built: float = 0.0
    error: str | None = None
    result: Any = None
    io: tuple[int, int] = (0, 0)
    rows_affected: int = 0

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Context:
    spark: Any
    data_dir: str
    work: str
    seed: int
    tracer: Any
    next_id: int = 0
    id_lock: threading.Lock = field(default_factory=threading.Lock)

    def new_op(self, name: str, pass_no: int) -> Op:
        with self.id_lock:
            self.next_id += 1
            return Op(self.next_id, name, pass_no, time.perf_counter())


def _error(e: BaseException) -> str:
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0][:300] if lines else ''}"


def run_query(ctx: Context, name: str, pass_no: int) -> Op:
    from sparketl import registry

    op = ctx.new_op(name, pass_no)
    tr = ctx.tracer
    try:
        with tr.operation(ctx.spark, op):
            with tr.span("operators.build"):
                df = registry.QUERIES[name](ctx.spark, ctx.data_dir)
            op.built = time.perf_counter()
            with tr.span("result.collect"):
                op.result = df.toPandas()
            tr.catalyst(op, df)
    except Exception as e:  # noqa: BLE001 - a failed query is a measured outcome
        op.error = _error(e)
    op.end = time.perf_counter()
    return op


def check_query(op: Op, expected) -> str | None:
    """None when the result matches the oracle, else why not."""
    from sparketl.oracle import ComplexCellError, canonical_frame

    if op.error:
        return op.error
    pdf = op.result
    try:
        rows = canonical_frame(pdf)
    except ComplexCellError as e:
        return str(e)
    if expected is None:  # no declared oracle: rows-only
        return None
    if sorted(pdf.columns) != expected["columns"]:
        return f"columns {sorted(pdf.columns)} != {expected['columns']}"
    if len(rows) != len(expected["rows"]):
        return f"{len(rows)} rows != {len(expected['rows'])}"
    if [list(r) for r in rows] != expected["rows"]:
        return "value mismatch"
    return None


def reset_engine_memos(spark) -> None:
    """Drop the engine's per-session result memos so every pass pays
    its work once, as a fresh batch over new data would."""
    from sparketl.operators import curation, llm_ann

    curation.clear_cc_memo()
    llm_ann.clear_cen_cache()
    llm_ann.clear_ann_eval_memo()
    spark.catalog.clearCache()


class QueryWorkload:
    """Shared pass/check logic of the two declared-query workloads."""

    name = ""
    clients = 1
    #: passes run even when --seconds has already elapsed
    min_passes = 1

    def __init__(self, ctx: Context) -> None:
        self.names = self.select()
        self.order = list(self.names)

    def select(self) -> list[str]:
        raise NotImplementedError

    def expected(self, ctx: Context) -> dict:
        return inputs.cached_json(
            inputs.oracle_path(ctx.work, ctx.seed, self.name, self.names),
            lambda: inputs.query_oracles(ctx.data_dir, self.names),
        )

    def run_pass(self, ctx: Context, pass_no: int) -> list[Op]:
        ops: list[Op] = []
        todo = iter(self.order)
        lock = threading.Lock()

        def client() -> None:
            while True:
                with lock:
                    name = next(todo, None)
                if name is None:
                    return
                op = run_query(ctx, name, pass_no)
                with lock:
                    ops.append(op)

        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops

    def reset(self, ctx: Context) -> None:
        reset_engine_memos(ctx.spark)

    def check(self, ctx: Context, ops: list[Op], expected) -> dict[str, str]:
        bad = {}
        for op in ops:
            why = check_query(op, expected[op.name])
            if why:
                bad[f"{op.name}#{op.pass_no}"] = why
        return bad

    def finish(self, ctx: Context) -> None:
        pass


class QueryMix(QueryWorkload):
    name = "query-mix"
    clients = QUERY_MIX_CLIENTS

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        random.Random(QUERY_MIX_ORDER_SEED).shuffle(self.order)

    def select(self) -> list[str]:
        from sparketl import registry

        pool = sorted(
            n
            for n, fn in registry.QUERIES.items()
            if not n.startswith(("llm_",) + WRITING_PREFIXES)
            and fn.__module__ not in WRITING_MODULES
        )
        return pool[::QUERY_MIX_STRIDE]


class CurateBatch(QueryWorkload):
    name = "curate-batch"
    min_passes = 2

    def select(self) -> list[str]:
        return list(CURATE_BATCH)


# ---------------------------------------------------------------------------
# etl-script
# ---------------------------------------------------------------------------

_STG_COLS = (
    "l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_shipdate, l_returnflag"
)
_FCT_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority"
)
#: line items shipped before _SPLIT are staged by CTAS, the rest by INSERT
_SPLIT = "date '2000-01-01'"
#: the change feed: ~4% of orders re-priced (or deleted when pending)
#: plus ~0.4% new orders
_FEED = """
    select o_orderkey as k, o_custkey as c, o_totalprice * 1.1 as p,
           o_orderdate as d, o_orderpriority as pr
    from orders where o_orderkey % 25 = 0
    union all
    select o_orderkey + 1000000, o_custkey, o_totalprice, o_orderdate,
           o_orderpriority
    from orders where o_orderkey % 250 = 1"""
_REPORT_BODY = """
    select o.o_orderpriority, l.l_returnflag, count(*) as n_lines,
           cast(sum(l.l_quantity) as bigint) as qty,
           cast(sum(cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                         as bigint)) as bigint) as revenue_cents
    from stg_lineitem l join fct_orders o on l.l_orderkey = o.o_orderkey
    group by o.o_orderpriority, l.l_returnflag"""
_UPDATE_WHERE = (
    "l_orderkey in (select o_orderkey from fct_orders "
    "where o_orderstatus = 'U')"
)
_DELETE_WHERE = "l_quantity > 48 and l_returnflag = 'R'"

#: (statement id, Presto SQL) in script order; the script ends with the
#: reporting SELECT, which is the "report" operation
ETL_STATEMENTS = (
    ("drop_view", "drop view if exists nightly_report"),
    ("drop_stg", "drop table if exists stg_lineitem"),
    ("drop_fct", "drop table if exists fct_orders"),
    (
        "ctas_stg",
        f"""create table stg_lineitem
            with (partitioned_by = array['l_returnflag']) as
            select {_STG_COLS} from lineitem
            where l_shipdate < {_SPLIT}""",
    ),
    (
        "insert_stg",
        f"""insert into stg_lineitem
            select {_STG_COLS} from lineitem
            where l_shipdate >= {_SPLIT}""",
    ),
    (
        "ctas_fct",
        f"""create table fct_orders
            with (partitioned_by = array['o_orderpriority']) as
            select {_FCT_COLS} from orders""",
    ),
    (
        "merge_feed",
        f"""merge into fct_orders as t
            using ({_FEED}) as s
            on t.o_orderkey = s.k
            when matched and t.o_orderstatus = 'P' then delete
            when matched then update
                 set o_totalprice = s.p, o_orderstatus = 'U'
            when not matched then
                 insert ({_FCT_COLS})
                 values (s.k, s.c, 'N', s.p, s.d, s.pr)""",
    ),
    (
        "update_sub",
        f"update stg_lineitem set l_discount = l_discount + 0.01 where {_UPDATE_WHERE}",
    ),
    ("delete_pred", f"delete from stg_lineitem where {_DELETE_WHERE}"),
    ("create_view", f"create or replace view nightly_report as {_REPORT_BODY}"),
)
ETL_SCRIPT = ";\n".join(s for _, s in ETL_STATEMENTS) + ";\nselect * from nightly_report"
ETL_TABLES = {
    t: [c.strip() for c in cols.split(",")]
    for t, cols in (("stg_lineitem", _STG_COLS), ("fct_orders", _FCT_COLS))
}


def table_digest(pdf: pd.DataFrame, cols: list[str]) -> dict:
    """Order-insensitive digest of a table: row count and the sum (mod
    2**64) of per-row hashes over normalized column values."""
    norm = pd.DataFrame(index=range(len(pdf)))
    for c in cols:
        s = pdf[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        else:
            s = s.astype(str)
        norm[c] = s
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64)
    return {"rows": int(len(pdf)), "hash_sum": int(h.sum(dtype=np.uint64))}


def etl_oracle(data_dir: str) -> dict:
    """The script's effects computed by DuckDB: rows affected per
    statement, final table digests and the report. MERGE runs as
    DELETE, UPDATE and INSERT against the pre-merge target."""
    from sparketl.oracle import canonical_frame, duckdb_connect

    con = duckdb_connect(data_dir)
    try:
        n = {}

        def run(sql: str) -> int:
            row = con.execute(sql).fetchone()
            return int(row[0]) if row else 0

        def count(t: str) -> int:
            return run(f"select count(*) from {t}")

        n["drop_view"] = n["drop_stg"] = n["drop_fct"] = 0
        con.execute(
            f"create table stg_lineitem as select {_STG_COLS} from lineitem "
            f"where l_shipdate < {_SPLIT}"
        )
        n["ctas_stg"] = count("stg_lineitem")
        n["insert_stg"] = run(
            f"insert into stg_lineitem select {_STG_COLS} from lineitem "
            f"where l_shipdate >= {_SPLIT}"
        )
        con.execute(f"create table fct_orders as select {_FCT_COLS} from orders")
        n["ctas_fct"] = count("fct_orders")
        con.execute(f"create temp table feed as {_FEED}")
        con.execute(
            "create temp table feed_new as select * from feed "
            "where k not in (select o_orderkey from fct_orders)"
        )
        deleted = run(
            "delete from fct_orders where o_orderstatus = 'P' "
            "and o_orderkey in (select k from feed)"
        )
        updated = run(
            "update fct_orders set o_totalprice = feed.p, o_orderstatus = 'U' "
            "from feed where fct_orders.o_orderkey = feed.k"
        )
        inserted = run(
            "insert into fct_orders select k, c, 'N', p, d, pr from feed_new"
        )
        n["merge_feed"] = deleted + updated + inserted
        n["update_sub"] = run(
            "update stg_lineitem set l_discount = l_discount + 0.01 "
            f"where {_UPDATE_WHERE}"
        )
        n["delete_pred"] = run(f"delete from stg_lineitem where {_DELETE_WHERE}")
        n["create_view"] = 0
        tables = {}
        for t, cols in ETL_TABLES.items():
            tables[t] = table_digest(con.execute(f"select * from {t}").df(), cols)
        report = con.execute(_REPORT_BODY).df()
        return {
            "rows": n,
            "tables": tables,
            "report": {
                "columns": sorted(report.columns),
                "rows": [list(r) for r in canonical_frame(report)],
            },
        }
    finally:
        con.close()


class EtlScript:
    name = "etl-script"
    min_passes = 1

    def __init__(self, ctx: Context) -> None:
        from sparketl import dml

        self.base = os.path.join(ctx.work, "run", "etl-tables")
        shutil.rmtree(self.base, ignore_errors=True)
        os.makedirs(self.base)
        dml.set_base_dir(ctx.spark, self.base)
        self.names = [sid for sid, _ in ETL_STATEMENTS] + ["report"]
        self.table_state: dict = {}

    def expected(self, ctx: Context) -> dict:
        return inputs.cached_json(
            inputs.oracle_path(ctx.work, ctx.seed, self.name, ETL_SCRIPT),
            lambda: etl_oracle(ctx.data_dir),
        )

    def run_pass(self, ctx: Context, pass_no: int) -> list[Op]:
        from sparketl import dml

        ops: list[Op] = []
        execute = dml.execute
        tr = ctx.tracer
        ids = iter(sid for sid, _ in ETL_STATEMENTS)
        # when the engine got control back after the last statement: the
        # traced run's directory walks fall outside every operation
        resumed = [0.0]

        def timed_execute(spark, stmt):
            before = dml._file_snapshot(self.base) if tr.enabled else None
            op = ctx.new_op(next(ids, "unexpected"), pass_no)
            ops.append(op)
            try:
                with tr.operation(spark, op), tr.span("dml.statement"):
                    op.result = execute(spark, stmt)
            except Exception as e:
                op.error = _error(e)
                raise
            finally:
                op.end = op.built = time.perf_counter()
                if before is not None:
                    op.io = written(before, dml._file_snapshot(self.base))
                resumed[0] = time.perf_counter()
            return op.result

        dml.execute = timed_execute
        report, failure = None, None
        try:
            report = dml.run_script(ctx.spark, ETL_SCRIPT)
        except Exception as e:  # noqa: BLE001 - a failed statement is a measured outcome
            if ops and ops[-1].error:
                return ops  # the statement's op holds the error; the pass ends
            failure = _error(e)  # the report SELECT itself failed
        finally:
            dml.execute = execute
        op = ctx.new_op("report", pass_no)
        op.start = op.built = resumed[0] if ops else op.start
        op.error = failure
        if report is not None:
            try:
                with tr.operation(ctx.spark, op), tr.span("result.collect"):
                    op.result = report.toPandas()
                tr.catalyst(op, report)
            except Exception as e:  # noqa: BLE001
                op.error = _error(e)
        op.end = time.perf_counter()
        ops.append(op)
        return ops

    def reset(self, ctx: Context) -> None:
        pass

    def finish(self, ctx: Context) -> None:
        """Digest the final files of each target table (after the timed
        window), read with its hive partition directories."""
        import pyarrow.parquet as pq
        from sparketl import dml

        for t, cols in ETL_TABLES.items():
            try:
                path = dml.table_path(ctx.spark, t).removeprefix("file:")
                pdf = pq.read_table(path, partitioning="hive").to_pandas()
                self.table_state[t] = table_digest(pdf, cols)
            except Exception as e:  # noqa: BLE001
                self.table_state[t] = {"error": _error(e)}

    def check(self, ctx: Context, ops: list[Op], expected) -> dict[str, str]:
        bad = {}
        for op in ops:
            key = f"{op.name}#{op.pass_no}"
            if op.name == "report":
                why = check_query(op, expected["report"])
                if why:
                    bad[key] = why
                continue
            if op.error:
                bad[key] = op.error
                continue
            got = int(op.result.collect()[0][0])
            op.rows_affected = got
            want = expected["rows"].get(op.name)
            if got != want:
                bad[key] = f"rows affected {got} != {want}"
        for t, want in expected["tables"].items():
            if self.table_state.get(t) != want:
                bad[f"table:{t}"] = f"final state {self.table_state.get(t)} != {want}"
        return bad


WORKLOADS = {w.name: w for w in (QueryMix, EtlScript, CurateBatch)}
