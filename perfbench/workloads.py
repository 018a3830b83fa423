"""The benchmark's workloads.

Each workload drives the engine only through its public entry points
(``get_spark``, the query registry, ``catalog.table``, the dataset and
IPC writers and readers, and the Flight SQL server) and returns one record
per timed operation. A record is a dict with ``op`` (unique id), ``name``,
``kind``, ``pass``, ``start``/``end`` (epoch seconds) and ``ok``; a failed
operation also carries ``error``.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time

from perfbench import loadgen
from perfbench.trace import Tracer, job_group

#: A batch operation still running after this long is cancelled and failed.
OP_TIMEOUT_S = 60.0

TPCH_QUERIES = (
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_type_profit",
    "q10_returned_items", "q11_important_stock", "q12_shipping_modes",
    "q13_customer_distribution", "q14_promo_effect", "q15_top_supplier",
    "q16_supplier_relationship", "q17_small_qty_revenue",
    "q18_large_orders", "q19_discounted_revenue", "q20_part_promotion",
    "q21_waiting_suppliers", "q22_sales_opportunity",
)


class Ctx:
    """What a workload needs from the run: the session, the query
    registry, the input directory, a scratch directory and, in the
    traced run, the tracer."""

    def __init__(self, root: str, work: str, sf_dir: str, seed: int,
                 tracer: Tracer | None):
        self.root = root
        self.work = work
        self.sf_dir = sf_dir
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.qs: dict = {}
        self.persisted_max = 0
        #: pids left out of the engine's memory figure (the load generator)
        self.rss_exclude: set[int] = set()

    @property
    def sc(self):
        return self.spark.sparkContext


# -- one timed batch operation ---------------------------------------------


class _CatalogProbe:
    """In the traced run, wraps ``arrow_spark.catalog.table`` wherever a
    module imported it, so time spent in scan discovery becomes a
    ``catalog`` span inside the build phase and its jobs carry the
    ``catalog`` job group."""

    def __init__(self, ctx: Ctx):
        import arrow_spark.catalog as catalog

        self.ctx = ctx
        self.orig = catalog.table
        self.op: str | None = None
        self.intervals: list[tuple[float, float]] = []
        self.patched = [
            mod for mod in list(sys.modules.values())
            if getattr(mod, "__name__", "").startswith("arrow_spark")
            and getattr(mod, "table", None) is self.orig
        ]
        for mod in self.patched:
            mod.table = self._table

    def _table(self, spark, sf_dir, name):
        if self.op is None:
            return self.orig(spark, sf_dir, name)
        sc = self.ctx.sc
        sc.setLocalProperty("spark.jobGroup.id", job_group(self.op, "catalog"))
        t0 = time.time()
        try:
            return self.orig(spark, sf_dir, name)
        finally:
            self.intervals.append((t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", job_group(self.op, "build"))

    def close(self) -> None:
        for mod in self.patched:
            mod.table = self.orig


class BatchRunner:
    """Runs one operation as phases ``build`` → [``plan``] → ``exec``.
    Each phase runs under its own job group; the traced run adds a
    Catalyst planning phase and records spans."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.catalog = _CatalogProbe(ctx) if ctx.tracer else None
        self._seq = 0

    def close(self) -> None:
        if self.catalog:
            self.catalog.close()

    def run(self, name: str, kind: str, pass_no: int, build, execute) -> dict:
        """``build()`` returns a DataFrame (or any value ``execute`` takes);
        ``execute(value)`` runs it and returns the output."""
        ctx, sc, tracer = self.ctx, self.ctx.sc, self.ctx.tracer
        self._seq += 1
        op = f"{kind}{self._seq}"
        tag = f"perfbench-{op}"
        rec = {"op": op, "name": name, "kind": kind, "pass": pass_no, "ok": True}
        phases: list[tuple[str, float, float]] = []
        sc.addJobTag(tag)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobsWithTag, args=(tag,))
        timer.daemon = True
        timer.start()
        rec["start"] = time.time()
        try:
            sc.setLocalProperty("spark.jobGroup.id", job_group(op, "build"))
            if self.catalog:
                self.catalog.op, self.catalog.intervals = op, []
            t0 = time.time()
            value = build()
            phases.append(("build", t0, time.time()))
            if self.catalog:
                self.catalog.op = None
            if tracer is not None and hasattr(value, "_jdf"):
                sc.setLocalProperty("spark.jobGroup.id", job_group(op, "plan"))
                t0 = time.time()
                value._jdf.queryExecution().executedPlan()
                phases.append(("plan", t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", job_group(op, "exec"))
            t0 = time.time()
            rec["output"] = execute(value)
            phases.append(("exec", t0, time.time()))
        except Exception as exc:  # a failed operation is a result, not a crash
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            rec["end"] = time.time()
            timer.cancel()
            sc.removeJobTag(tag)
            sc.setLocalProperty("spark.jobGroup.id", None)
            if self.catalog:
                self.catalog.op = None
        if tracer is not None:
            root = tracer.add("op", op, rec["start"], rec["end"], query=name, kind=kind,
                              pass_no=pass_no)
            for phase, a, b in phases:
                pid = tracer.add(phase, op, a, b, parent=root)
                if phase == "build" and self.catalog:
                    for ca, cb in self.catalog.intervals:
                        tracer.add("catalog", op, ca, cb, parent=pid)
            n = sc._jsc.getPersistentRDDs().size()
            ctx.persisted_max = max(ctx.persisted_max, n)
        return rec


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def batch_warmup(ctx: Ctx) -> None:
    """One TPC-H query to a noop sink: JVM start-up and first codegen."""
    noop_write(ctx.qs["q1_pricing_summary"].fn(ctx.spark, ctx.sf_dir))


def _measure_passes(seconds: float, deadline: float, one_pass) -> list[dict]:
    """Whole passes until ``seconds`` have been measured (at least one),
    never starting a pass after the run's ``deadline``."""
    recs: list[dict] = []
    t0 = time.time()
    p = 0
    while p == 0 or (time.time() - t0 < seconds and time.time() < deadline):
        recs.extend(one_pass(p))
        p += 1
    return recs


# -- batch workloads ----------------------------------------------------------


def run_query(runner: BatchRunner, ctx: Ctx, name: str, p: int, outputs: dict) -> dict:
    """One registry query as a timed operation. Its output is collected
    to pandas (kept in ``outputs`` for the untimed oracle check) rather
    than sent to a noop sink, so the check needs no second execution."""
    rec = runner.run(name, "query", p, lambda: ctx.qs[name].fn(ctx.spark, ctx.sf_dir),
                     lambda df: df.toPandas())
    if rec["ok"]:
        outputs[name] = rec.pop("output")
    return rec


def oracle_checks(ctx: Ctx, names, outputs: dict) -> list[dict]:
    """Each query's last timed output against its DuckDB oracle on the
    same files (arrow_spark.testing.oracle's comparison)."""
    from arrow_spark.testing.oracle import compare_frames, duck_connection

    out = []
    con = duck_connection(ctx.sf_dir)
    try:
        for name in names:
            if name not in outputs:
                continue  # the failed run is already counted
            try:
                res = compare_frames(name, outputs[name], con.sql(ctx.qs[name].oracle).df())
                out.append({"check": f"oracle:{name}", "ok": res.ok,
                            "detail": "; ".join(res.errors[:2])})
            except Exception as exc:
                out.append({"check": f"oracle:{name}", "ok": False,
                            "detail": f"{type(exc).__name__}: {exc}"[:300]})
    finally:
        con.close()
    return out


def _float_digits(df, digits: int = 12):
    """Float columns rounded to ``digits`` significant digits: an unrounded
    sum may differ in its last bits between two executions."""
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].map(lambda x: float(f"{x:.{digits}g}"))
    return df


def frames_match(got, want) -> tuple[bool, str]:
    """Order-insensitive equality of two Arrow tables: equal once both are
    sorted on every column, else by compare_frames on pandas with floats
    to 12 significant digits."""
    from arrow_spark.testing.oracle import compare_frames

    cols = sorted(got.column_names)
    if cols == sorted(want.column_names) and got.num_rows == want.num_rows:
        keys = [(c, "ascending") for c in cols]
        if got.select(cols).sort_by(keys).equals(want.select(cols).sort_by(keys)):
            return True, ""
    res = compare_frames("", _float_digits(got.to_pandas()), _float_digits(want.to_pandas()))
    return res.ok, "; ".join(res.errors[:2])


# -- the pipeline and IO steps ------------------------------------------------

#: Driver-loop and Python-boundary queries of each pass: label propagation
#: iterates on the driver and checkpoints each round; PNG decoding runs a
#: pandas UDF and mapInPandas.
PIPELINE_QUERIES = ("graph_label_propagation", "multimodal_png_decode")

#: The table each pass writes in every format and reads back.
IO_TABLE = "orders"
IO_FORMATS = ("parquet", "ipc", "csv")

#: Hive partition column of the parquet and IPC writes; the timed reads
#: filter on it, so the parquet read prunes four of its five partitions.
IO_PARTITION = "o_orderpriority"


def read_back(spark, fmt: str, path: str):
    from arrow_spark.sources.dataset import read_dataset
    from arrow_spark.sources.ipc import read_ipc

    if fmt == "ipc":
        return read_ipc(spark, path)
    return read_dataset(spark, path, fmt=fmt)


def filtered_agg(df):
    """The timed read's query: one partition, aggregated (exact decimal
    sums, so every format gives the same answer)."""
    from pyspark.sql import functions as F

    return (df.where(F.col(IO_PARTITION) == "1-URGENT").groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(15,2)")).alias("price")))


def checksum(df):
    """Row count, key sum and the sum of a hash of every canonicalised
    row (each column cast to one type whatever the format inferred):
    order-insensitive and exact in every format."""
    from pyspark.sql import functions as F

    canon = [F.col("o_orderkey").cast("bigint"), F.col("o_custkey").cast("bigint"),
             F.col("o_totalprice").cast("decimal(15,2)"),
             F.col("o_orderstatus").cast("string"), F.col(IO_PARTITION).cast("string"),
             F.date_format("o_orderdate", "yyyy-MM-dd")]
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("o_orderkey").alias("orderkeys"),
        F.sum(F.pmod(F.xxhash64(*canon), F.lit(1000000007))).alias("row_hashes"),
    ).toPandas()


def stored(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's ``_SUCCESS`` and
    ``.crc`` side files are not data."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class TpchPipeline:
    """The TPC-H and pipeline queries and the write/read-back steps, in an
    order drawn from the seed each pass. A query is one operation; an IO
    format is two, a write of ``IO_TABLE`` and a read-back with a filter
    and aggregation."""

    name = "tpch_pipeline"
    queries = TPCH_QUERIES + PIPELINE_QUERIES
    io_formats = IO_FORMATS
    ops_per_pass = len(queries) + 2 * len(io_formats)
    limit_s = OP_TIMEOUT_S

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.runner: BatchRunner | None = None
        self.outputs: dict[str, object] = {}
        self.io_dir = os.path.join(ctx.work, "io")

    def warmup(self) -> None:
        batch_warmup(self.ctx)

    def prepare(self) -> None:
        self.runner = BatchRunner(self.ctx)

    def release(self) -> None:
        if self.runner:
            self.runner.close()

    def _write(self, fmt: str, p: int) -> dict:
        import shutil

        from arrow_spark import catalog
        from arrow_spark.sources.dataset import write_dataset
        from arrow_spark.sources.ipc import write_ipc

        ctx, path = self.ctx, os.path.join(self.io_dir, fmt)
        shutil.rmtree(path, ignore_errors=True)
        if fmt == "ipc":
            def execute(df):
                write_ipc(df, path, partition_by=[IO_PARTITION])
        elif fmt == "parquet":
            def execute(df):
                write_dataset(df, path, partition_by=[IO_PARTITION])
        else:
            def execute(df):
                write_dataset(df, path, fmt="csv", header="true")
        rec = self.runner.run(f"write_{fmt}", "write", p,
                              lambda: catalog.table(ctx.spark, ctx.sf_dir, IO_TABLE), execute)
        rec.pop("output", None)
        rec["files"], rec["bytes"] = stored(path)
        return rec

    def _read(self, fmt: str, p: int) -> dict:
        ctx, path = self.ctx, os.path.join(self.io_dir, fmt)
        rec = self.runner.run(f"read_{fmt}", "read", p,
                              lambda: filtered_agg(read_back(ctx.spark, fmt, path)),
                              lambda df: df.toPandas())
        if rec["ok"]:
            self.outputs[rec["name"]] = rec.pop("output")
        return rec

    def measure(self, seconds: float, deadline: float) -> list[dict]:
        rng = random.Random(self.ctx.seed)

        def one_pass(p: int) -> list[dict]:
            steps = list(self.queries) + list(self.io_formats)
            rng.shuffle(steps)
            out = []
            for step in steps:
                if step in self.io_formats:
                    out.append(self._write(step, p))
                    out.append(self._read(step, p))
                else:
                    out.append(run_query(self.runner, self.ctx, step, p, self.outputs))
            return out

        return _measure_passes(seconds, deadline, one_pass)

    def check(self) -> list[dict]:
        """The queries against their DuckDB oracles; each timed read's
        answer and each format's full read-back checksum against the same
        computed on the source table."""
        from arrow_spark import catalog
        from arrow_spark.testing.oracle import compare_frames

        ctx = self.ctx
        out = oracle_checks(ctx, self.queries, self.outputs)
        source = catalog.table(ctx.spark, ctx.sf_dir, IO_TABLE)
        want_agg, want_sum = filtered_agg(source).toPandas(), checksum(source)
        for fmt in self.io_formats:
            for check, want, got in (
                (f"read:{fmt}", want_agg, lambda: self.outputs.get(f"read_{fmt}")),
                (f"readback:{fmt}", want_sum,
                 lambda: checksum(read_back(ctx.spark, fmt, os.path.join(self.io_dir, fmt)))),
            ):
                try:
                    frame = got()
                    if frame is None:
                        continue  # the failed run is already counted
                    res = compare_frames(check, frame, want)
                    out.append({"check": check, "ok": res.ok, "detail": "; ".join(res.errors[:2])})
                except Exception as exc:
                    out.append({"check": check, "ok": False,
                                "detail": f"{type(exc).__name__}: {exc}"[:300]})
        return out

    def layer_extras(self, ops: list[dict]) -> dict[str, float]:
        """Write and read walls per format (median over passes), files and
        bytes stored per pass, and rows per second against the source's
        row count and Arrow in-memory size."""
        import pyarrow.dataset as ds

        from perfbench.stats import median

        src = ds.dataset(os.path.join(self.ctx.sf_dir, f"{IO_TABLE}.parquet"), format="parquet")
        rows = src.count_rows()
        in_bytes = src.to_table().nbytes
        passes = sorted({o["pass"] for o in ops})
        out: dict[str, float] = {}
        for kind in ("write", "read"):
            for fmt in self.io_formats:
                walls = [o["end"] - o["start"] for o in ops if o["name"] == f"{kind}_{fmt}"]
                out[f"{kind}.{fmt}_s"] = median(walls)
            ok = [o for o in ops if o["kind"] == kind and o["ok"]]
            wall = sum(o["end"] - o["start"] for o in ok)
            out[f"{kind}.rows_per_s"] = rows * len(ok) / wall if wall else 0.0
        writes = [o for o in ops if o["kind"] == "write"]
        n = max(len(passes), 1)
        out["write.files"] = sum(o.get("files", 0) for o in writes) / n
        out["write.bytes"] = sum(o.get("bytes", 0) for o in writes) / n
        n_ok = sum(o["ok"] for o in writes)
        out["write.bytes_per_input_byte"] = (
            sum(o.get("bytes", 0) for o in writes if o["ok"]) / (n_ok * in_bytes) if n_ok else 0.0
        )
        return out


# -- flight_sql_serve ---------------------------------------------------------

#: The Substrait request's SQL equivalent (for the output check).
SUBSTRAIT_SQL = (
    "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS raw_sum "
    "FROM orders GROUP BY o_orderpriority"
)


def substrait_plan() -> bytes:
    """Aggregate over the ``orders`` view: count and price sum per priority."""
    from arrow_spark.plans import substrait_builder as B

    read = B.read_named(["orders"], ["o_orderpriority", "o_totalprice"], ["string", "fp64"])
    agg = B.aggregate_rel(
        read,
        [B.field_ref(0)],
        [B.agg_fn(1, [], B.typ("i64")), B.agg_fn(2, [B.field_ref(1)], B.typ("fp64"))],
    )
    return B.plan(agg, ["o_orderpriority", "n", "raw_sum"],
                  functions={1: (B.URI_AGG, "count"), 2: (B.URI_ARITH, "sum")})


class FlightSqlServe:
    name = "flight_sql_serve"
    ops_per_pass = len(loadgen.TYPES)
    limit_s = loadgen.CALL_TIMEOUT_S

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.server = None
        self.plan = substrait_plan()
        self.plan_file = os.path.join(ctx.work, "flight_substrait.plan")
        self._lock = threading.Lock()
        self._seq = 0

    @property
    def location(self) -> str:
        return f"grpc://127.0.0.1:{self.server.port}"

    def prepare(self) -> None:
        from arrow_spark.catalog import TABLES, table
        from arrow_spark.sources.flight_sql import start_flight_sql_server

        for name in TABLES:
            table(self.ctx.spark, self.ctx.sf_dir, name).createOrReplaceTempView(name)
        self.server = start_flight_sql_server(self.ctx.spark)
        if self.ctx.tracer is not None:
            self._trace_server()

    def warmup(self) -> None:
        """One point lookup through the load generator's client code."""
        client = loadgen.Client(self.location, self.plan)
        try:
            sql = loadgen.Params(self.ctx.sf_dir).sql("point_lookup", random.Random(self.ctx.seed))
            client.fetch(loadgen.statement(sql))
        finally:
            client.close()

    def release(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server = None

    def _trace_server(self) -> None:
        """Wrap the server's GetFlightInfo: each request gets its own job
        group, a ``plan`` span (Catalyst planning of the statement text)
        and a ``get_info`` span."""
        srv, spark, sc = self.server, self.ctx.spark, self.ctx.sc
        orig = srv.get_flight_info

        def get_flight_info(context, descriptor):
            with self._lock:
                self._seq += 1
                op = f"req{self._seq}"
            cmd = descriptor.command or b""
            t0 = time.time()
            sql = loadgen.statement_sql(cmd)
            sc.setLocalProperty("spark.jobGroup.id", job_group(op, "plan"))
            try:
                if sql:
                    spark.sql(sql)._jdf.queryExecution().executedPlan()
            except Exception:  # the request itself reports the error
                pass
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", job_group(op, "get_info"))
            try:
                return orig(context, descriptor)
            finally:
                t2 = time.time()
                sc.setLocalProperty("spark.jobGroup.id", None)
                tracer = self.ctx.tracer
                root = tracer.add("request", op, t0, t2, command=loadgen.command_name(cmd))
                tracer.add("plan", op, t0, t1, parent=root)
                tracer.add("get_info", op, t1, t2, parent=root)

        srv.get_flight_info = get_flight_info

    def measure(self, seconds: float, deadline: float) -> list[dict]:
        with open(self.plan_file, "wb") as f:
            f.write(self.plan)
        out_file = os.path.join(self.ctx.work, "flight_load.json")
        if os.path.exists(out_file):
            os.remove(out_file)
        cmd = [
            sys.executable, os.path.join(self.ctx.root, "perfbench", "loadgen.py"),
            "--port", str(self.server.port), "--seed", str(self.ctx.seed),
            "--seconds", str(seconds),
            "--data-dir", self.ctx.sf_dir, "--plan-file", self.plan_file,
            "--out", out_file,
        ]
        proc = subprocess.Popen(cmd)
        self.ctx.rss_exclude.add(proc.pid)
        try:
            proc.wait(timeout=max(5.0, deadline - time.time()) + seconds)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0 or not os.path.exists(out_file):
            raise RuntimeError(f"load generator exited with {proc.returncode}")
        with open(out_file) as f:
            load = json.load(f)
        recs = []
        for i, r in enumerate(load["requests"]):
            rec = {"op": f"r{i}", "name": r["type"], "kind": "request",
                   "pass": (r["client"], r["pass"]), "start": r["t_send"],
                   "end": r["t_end"], "t_info": r["t_info"], "ok": r["ok"]}
            for k in ("rows", "bytes", "endpoints", "error"):
                if k in r:
                    rec[k] = r[k]
            recs.append(rec)
        for c in range(load.get("stuck_clients", 0)):
            recs.append({"op": f"stuck{c}", "name": "stuck_client", "kind": "request",
                         "pass": (-1, c), "start": load["t_start"], "end": time.time(),
                         "t_info": time.time(), "ok": False, "error": "client did not finish"})
        self.t_start = load["t_start"]
        return recs

    def check(self) -> list[dict]:
        """One request of each type against ``spark.sql`` on the same text
        (the Substrait plan against its SQL equivalent; GetTables against
        the session catalog)."""
        spark = self.ctx.spark
        params = loadgen.Params(self.ctx.sf_dir)
        rng = random.Random(self.ctx.seed + 1)
        client = loadgen.Client(self.location, self.plan)
        out = []
        try:
            client.prepare()
            for kind in loadgen.TYPES:
                try:
                    cmd, sql = client.command(kind, params, rng)
                    got = client.fetch(cmd)[0]
                    if kind == "get_tables":
                        names = sorted(got.column("table_name").to_pylist())
                        want_names = sorted(t.name for t in spark.catalog.listTables())
                        ok, detail = names == want_names, f"{names} vs {want_names}"
                    else:
                        ok, detail = frames_match(got, spark.sql(sql or SUBSTRAIT_SQL).toArrow())
                    out.append({"check": f"flight:{kind}", "ok": ok, "detail": "" if ok else detail[:300]})
                except Exception as exc:
                    out.append({"check": f"flight:{kind}", "ok": False,
                                "detail": f"{type(exc).__name__}: {exc}"[:300]})
        finally:
            client.close()
        return out

    def layer_extras(self, ops: list[dict]) -> dict[str, float]:
        from perfbench.stats import median, tail

        ok = [o for o in ops if o["ok"]]
        info_ms = [1000 * (o["t_info"] - o["start"]) for o in ok]
        get_ms = [1000 * (o["end"] - o["t_info"]) for o in ok]
        out = {
            "flight_sql.get_info_p50_ms": median(info_ms),
            "flight_sql.get_info_tail_ms": tail(info_ms)[0],
            "flight_sql.do_get_p50_ms": median(get_ms),
            "flight_sql.result_bytes": sum(o.get("bytes", 0) for o in ok) / max(len(ok), 1),
            "flight_sql.endpoints": sum(o.get("endpoints", 0) for o in ok) / max(len(ok), 1),
            "flight_sql.errors": float(sum(not o["ok"] for o in ops)),
        }
        lat = {t: [1000 * (o["end"] - o["start"]) for o in ok if o["name"] == t]
               for t in loadgen.TYPES}
        for t in loadgen.TYPES:
            out[f"flight_sql.p50_ms.{t}"] = median(lat[t])
        out["plans.substrait_req_ms"] = median(lat["substrait"])
        out["flight_sql.sql_req_ms"] = median(
            lat["point_lookup"] + lat["filtered_agg"] + lat["join_agg"] + lat["range_scan"]
        )
        return out


WORKLOADS = {w.name: w for w in (TpchPipeline, FlightSqlServe)}
