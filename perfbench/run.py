"""arrow_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run generates the
input tables (TPC-H sf0.1 plus the fixture-shaped extras) under
``.perfbench_work/`` and later runs reuse them while the generator's
sources, the scale and the core count are unchanged. The run times its
set-up (CPU seconds of the engine's process tree from process start to
the first timed operation; the wall is reported too), measures whole
passes of the workload until ``--seconds`` have elapsed, checks the
outputs, and prints as its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1``
enables the Spark event log, records spans and reports the per-layer
split instead. The full record, provenance included, is written to
``.perfbench_work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.loadgen import TYPES as FLIGHT_TYPES  # noqa: E402

SF = 0.1
#: Engine sources whose change invalidates the generated input tables.
GENERATOR_SOURCES = ("arrow_spark/sources/scalegen.py", "arrow_spark/sources/tpchgen.py",
                     "arrow_spark/functions/portable_hash.py")
#: No pass starts later than this after process start, so the run ends
#: well inside its time limit even when a pass runs slow.
PASS_DEADLINE_S = 110.0

#: (name, unit, better) — the order the metrics are printed in.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("suite_cpu_s", "s", "lower"),
)

PER_LAYER = (
    ("wall.suite_s", "s", "lower"),
    ("wall.op_p50_ms", "ms", "lower"),
    ("wall.op_tail_ms", "ms", "lower"),
    ("wall.throughput_ops_per_s", "1/s", "higher"),
    ("host.cpu_steal_share", "ratio", "lower"),
    ("session.get_spark_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("session.setup_wall_s", "s", "lower"),
    ("memory.peak_rss_mb", "MB", "lower"),
    ("memory.rss_p50_mb", "MB", "lower"),
    ("catalog.table_s", "s", "lower"),
    ("catalog.discovery_jobs", "count", "lower"),
    ("scan.input_bytes", "B", "lower"),
    ("scan.input_records", "count", "lower"),
    ("scan.time_s", "s", "lower"),
    ("build.s", "s", "lower"),
    ("build.self_s", "s", "lower"),
    ("build.share", "ratio", "lower"),
    ("build.jobs", "count", "lower"),
    ("build.stages", "count", "lower"),
    ("checkpoint.persisted_rdds_max", "count", "lower"),
    ("plan.s", "s", "lower"),
    ("plan.share", "ratio", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.self_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.executor_run_s", "s", "lower"),
    ("exec.executor_cpu_s", "s", "lower"),
    ("exec.fetch_wait_s", "s", "lower"),
    ("exec.shuffle_write_bytes", "B", "lower"),
    ("exec.shuffle_read_bytes", "B", "lower"),
    ("exec.spill_bytes", "B", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.peak_exec_memory_bytes", "B", "lower"),
    ("pyboundary.run_s", "s", "lower"),
    ("pyboundary.start_s", "s", "lower"),
    ("pyboundary.bytes_sent", "B", "lower"),
    ("pyboundary.bytes_returned", "B", "lower"),
    ("write.parquet_s", "s", "lower"),
    ("write.ipc_s", "s", "lower"),
    ("write.csv_s", "s", "lower"),
    ("write.rows_per_s", "1/s", "higher"),
    ("write.files", "count", "lower"),
    ("write.bytes", "B", "lower"),
    ("write.bytes_per_input_byte", "ratio", "lower"),
    ("write.jobs", "count", "lower"),
    ("read.parquet_s", "s", "lower"),
    ("read.ipc_s", "s", "lower"),
    ("read.csv_s", "s", "lower"),
    ("read.rows_per_s", "1/s", "higher"),
    ("read.discovery_s", "s", "lower"),
    ("plans.substrait_req_ms", "ms", "lower"),
    ("flight_sql.sql_req_ms", "ms", "lower"),
    ("flight_sql.get_info_p50_ms", "ms", "lower"),
    ("flight_sql.get_info_tail_ms", "ms", "lower"),
    ("flight_sql.do_get_p50_ms", "ms", "lower"),
    ("flight_sql.result_bytes", "B", "lower"),
    ("flight_sql.endpoints", "count", "lower"),
    ("flight_sql.jobs_per_req", "count", "lower"),
    ("flight_sql.errors", "count", "lower"),
    *((f"flight_sql.p50_ms.{t}", "ms", "lower") for t in FLIGHT_TYPES),
    ("trace.overhead_share", "ratio", "lower"),
    ("trace.unattributed_s", "s", "lower"),
    ("trace.spans", "count", "lower"),
)


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "arrow_spark", "__init__.py")) and \
        os.path.isfile(os.path.join(ROOT, "bench.py"))


def _set_environment(work: str) -> None:
    """Keep the engine's files inside the checkout and let Python workers
    import the engine from it. The engine itself runs with its
    ``get_spark`` defaults at ``SPARK_GRAFT_CPUS`` = the usable cores."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _sha256_files(paths: list[str], rel_to: str) -> str:
    digest = hashlib.sha256()
    for p in sorted(paths):
        digest.update(os.path.relpath(p, rel_to).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()


def data_key() -> dict:
    """What the generated tables depend on: the generator's sources, the
    scale and the core count (the generator writes one part file per
    task)."""
    return {
        "generator_sha256": _sha256_files([os.path.join(ROOT, p) for p in GENERATOR_SOURCES],
                                          ROOT),
        "sf": SF,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
    }


def input_digest(sf_dir: str) -> str:
    """SHA-256 over every input file's name and bytes."""
    return _sha256_files([os.path.join(d, n) for d, _, names in os.walk(sf_dir)
                          for n in names], sf_dir)


def _ensure_data(spark, work: str) -> tuple[str, float]:
    """Generate the input tables unless the ones on disk were made with
    the same ``data_key``; returns (dir, seconds spent generating)."""
    from arrow_spark.sources.scalegen import write_scale_dir

    sf_dir = os.path.join(work, "data", f"sf{SF:g}")
    marker = sf_dir + ".key.json"
    key = data_key()
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == key:
                return sf_dir, 0.0
        os.remove(marker)
    t0 = time.time()
    if os.path.exists(sf_dir):
        import shutil

        shutil.rmtree(sf_dir)
    write_scale_dir(spark, SF, sf_dir)
    with open(marker, "w") as f:
        json.dump(key, f)
    return sf_dir, time.time() - t0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (driver
    Python, the JVM and its Python workers) every ``PERIOD_S``, leaving out
    ``exclude`` and its subtree. The process tree is re-read every
    ``RESCAN`` samples so sampling stays cheap next to the driver's own
    Python work."""

    PERIOD_S = 0.25
    RESCAN = 8

    def __init__(self):
        self.samples: list[tuple[float, int]] = []
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._hz = os.sysconf("SC_CLK_TCK")

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(5)

    def _tree(self) -> list[int]:
        return [os.getpid(), *_descendants(self.exclude)]

    def cpu_s(self) -> dict[int, float]:
        """CPU seconds (user + system) used so far by each process of the
        tree, read now."""
        out = {}
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                out[pid] = (int(fields[11]) + int(fields[12])) / self._hz
            except (OSError, IndexError, ValueError):
                pass
        return out

    def _rss(self, pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.wait(self.PERIOD_S):
            if n % self.RESCAN == 0:
                pids = self._tree()
            n += 1
            self.samples.append((time.time(), self._rss(pids)))

    def window_mb(self, lo: float, hi: float) -> list[float]:
        return [r / 2**20 for t, r in self.samples if lo <= t <= hi]


# -- process lifetime -----------------------------------------------------------


def _become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so the
    Python workers and whatever else the JVM starts stay in this process's
    tree after the JVM exits and can be waited for here (Linux only)."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _exit_on_signal(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def _descendants(exclude: set[int] = frozenset()) -> list[int]:
    """Descendants of this process, zombies included (a zombie may still
    have threads running; it is gone only once it is reaped), leaving out
    ``exclude`` and its subtrees."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        if pid not in exclude:
            out.append(pid)
            stack.extend(children.get(pid, []))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_process_tree(grace_s: float = 30.0) -> None:
    """End the JVM (its gateway exits when its stdin closes) and every
    other process this run started, and wait until each has ended: after
    ``grace_s`` the ones left get SIGTERM, five seconds later SIGKILL.
    Orphans come to this process (``_become_subreaper``) and are reaped
    here, so none outlives the run."""
    pyspark = sys.modules.get("pyspark")
    SparkContext = pyspark.SparkContext if pyspark is not None else None
    gateway = SparkContext._gateway if SparkContext is not None else None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may be gone already
            pass
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    start = time.time()
    sent = None
    while True:
        _reap()
        live = _descendants()
        if not live:
            break
        waited = time.time() - start
        sig = (signal.SIGKILL if waited > grace_s + 5 else
               signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            for pid in live:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            sent = sig
        time.sleep(0.05)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _provenance(seed: int, spark, sf_dir: str) -> dict:
    import bench  # the engine's own harness; only its calibration is used

    commit = None
    try:
        top, head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
        if os.path.realpath(top) == os.path.realpath(ROOT):  # not an enclosing repo
            commit = head
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    sources = [os.path.join(d, n) for top in ("arrow_spark", "perfbench")
               for d, _, names in os.walk(os.path.join(ROOT, top))
               for n in names if n.endswith(".py")]
    return {
        "commit": commit,
        "source_sha256": _sha256_files(sources, ROOT),
        "input": {"sha256": input_digest(sf_dir), **data_key()},
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "seed": seed,
        # reported only: never used to rescale a metric or a bound
        "calibration": bench._host_calibration(spark),
    }


# -- end-to-end metrics -------------------------------------------------------


def _pass_walls(ops: list[dict]) -> list[float]:
    by_pass: dict = {}
    for o in ops:
        key = json.dumps(o["pass"])
        lo, hi = by_pass.get(key, (o["start"], o["end"]))
        by_pass[key] = (min(lo, o["start"]), max(hi, o["end"]))
    return [hi - lo for lo, hi in by_pass.values()]


def end_to_end(ops: list[dict], setup_cpu_s: float, engine_cpu_s: float,
               ops_per_pass: int, limit_s: float) -> tuple[dict[str, float], dict]:
    """The run's figures over its timed operations: the end-to-end metrics
    and the wall-clock ones (``wall.*``).

    ``setup_s`` is the engine's CPU seconds from process start to the
    first timed operation, less input generation. ``suite_cpu_s`` is its
    CPU seconds per pass (CPU over the measured window, per operation,
    times the operations in one pass). Walls include time the host gives
    to other guests; CPU time does not.
    A failed operation counts as taking ``limit_s`` (it misses every
    latency limit). Only passes with all ``ops_per_pass`` operations count
    toward the pass wall (a Flight client's last pass is cut by the
    window)."""
    from perfbench.stats import median, tail

    lat_ms = [1000 * ((o["end"] - o["start"]) if o["ok"] else limit_s) for o in ops]
    count: dict = {}
    for o in ops:
        k = json.dumps(o["pass"])
        count[k] = count.get(k, 0) + 1
    walls = _pass_walls([o for o in ops if count[json.dumps(o["pass"])] == ops_per_pass])
    span = max(o["end"] for o in ops) - min(o["start"] for o in ops)
    tail_ms, pct, n = tail(lat_ms)
    figures = {
        "setup_s": setup_cpu_s,
        "suite_cpu_s": engine_cpu_s / len(ops) * ops_per_pass,
        "wall.suite_s": median(walls),
        "wall.op_p50_ms": median(lat_ms),
        "wall.op_tail_ms": tail_ms,
        "wall.throughput_ops_per_s": sum(o["ok"] for o in ops) / span if span > 0 else 0.0,
    }
    notes = {"wall.op_tail_percentile": pct, "wall.op_samples": n,
             "passes": len(walls)}
    return figures, notes


def outcome(ops: list[dict], checks: list[dict]) -> tuple[int, list[dict]]:
    """(attempted, failures): every timed operation and every output check
    is one attempt; an exception, a timeout or a mismatch is one failure."""
    failures = [{"op": o["name"], "error": o.get("error", "")} for o in ops if not o["ok"]]
    failures += [{"check": c["check"], "detail": c["detail"]} for c in checks if not c["ok"]]
    return len(ops) + len(checks), failures


# -- per-layer metrics (traced run) --------------------------------------------


def _stage_metrics(stages: list) -> dict[str, float]:
    def tot(*names):
        return sum(s.metrics.get(n, 0.0) for s in stages for n in names)

    return {
        "tasks": float(sum(s.tasks for s in stages)),
        "run_s": tot("internal.metrics.executorRunTime") / 1e3,
        "cpu_s": tot("internal.metrics.executorCpuTime") / 1e9,
        "fetch_wait_s": tot("internal.metrics.shuffle.read.fetchWaitTime") / 1e3,
        "shuffle_write": tot("internal.metrics.shuffle.write.bytesWritten"),
        "shuffle_read": tot("internal.metrics.shuffle.read.remoteBytesRead",
                            "internal.metrics.shuffle.read.localBytesRead"),
        "spill": tot("internal.metrics.diskBytesSpilled"),
        "gc_s": tot("internal.metrics.jvmGCTime") / 1e3,
        "peak_mem": max((s.peak_task_memory for s in stages), default=0.0),
        "input_bytes": tot("internal.metrics.input.bytesRead"),
        "input_records": tot("internal.metrics.input.recordsRead"),
        "scan_s": tot("scan time") / 1e3,
        "py_run_s": tot("time to run Python workers") / 1e3,
        "py_start_s": tot("time to start Python workers",
                          "time to initialize Python workers") / 1e3,
        "py_sent": tot("data sent to Python workers"),
        "py_returned": tot("data returned from Python workers"),
    }


def _jobs_by_op(jobs: dict, stages: dict, op_ids: set) -> dict:
    """op -> phase -> (jobs, completed stages of those jobs)."""
    from perfbench.trace import parse_group

    out: dict = {}
    seen: set[int] = set()
    for j in sorted(jobs.values(), key=lambda j: j.job_id):
        g = parse_group(j.group)
        if g is None or g[0] not in op_ids:
            continue
        op, phase = g
        js, ss = out.setdefault(op, {}).setdefault(phase, ([], []))
        js.append(j)
        for sid in j.stage_ids:
            if sid in stages and sid not in seen:
                seen.add(sid)
                ss.append(stages[sid])
    return out


def _layer_common(groups: dict, n_units: float) -> dict[str, float]:
    """Stage-execution, scan and Python-boundary metrics over every job of
    the timed operations, per unit (pass or request)."""
    all_stages = [s for phases in groups.values() for _, ss in phases.values() for s in ss]
    m = _stage_metrics(all_stages)
    d = max(n_units, 1)
    return {
        "scan.input_bytes": m["input_bytes"] / d,
        "scan.input_records": m["input_records"] / d,
        "scan.time_s": m["scan_s"] / d,
        "exec.executor_run_s": m["run_s"] / d,
        "exec.executor_cpu_s": m["cpu_s"] / d,
        "exec.fetch_wait_s": m["fetch_wait_s"] / d,
        "exec.shuffle_write_bytes": m["shuffle_write"] / d,
        "exec.shuffle_read_bytes": m["shuffle_read"] / d,
        "exec.spill_bytes": m["spill"] / d,
        "exec.gc_s": m["gc_s"] / d,
        "exec.peak_exec_memory_bytes": m["peak_mem"],
        "pyboundary.run_s": m["py_run_s"] / d,
        "pyboundary.start_s": m["py_start_s"] / d,
        "pyboundary.bytes_sent": m["py_sent"] / d,
        "pyboundary.bytes_returned": m["py_returned"] / d,
    }


def batch_layers(ops: list[dict], tracer, jobs: dict, stages: dict) -> dict[str, float]:
    """Per-pass layer split of a batch workload: phase times from the
    spans, job/stage counts from the event log; medians over passes for
    times, totals per pass for counts."""
    from perfbench.stats import median
    from perfbench.trace import Span, self_times

    op_ids = {o["op"] for o in ops}
    groups = _jobs_by_op(jobs, stages, op_ids)
    spans = [s for s in tracer.spans if s.op in op_ids]
    next_id = max((s.span_id for s in tracer.spans), default=0) + 1
    phase_span = {(s.op, s.name): s for s in spans if s.name in ("build", "plan", "exec")}
    job_spans: list[Span] = []
    for op, phases in groups.items():
        for phase, (js, _) in phases.items():
            parent = phase_span.get((op, "build" if phase == "catalog" else phase))
            for j in js:
                if parent is not None and j.end:
                    job_spans.append(Span(next_id, "job", op, j.start, j.end, parent.span_id))
                    next_id += 1
    selfs = self_times(spans + job_spans)
    n_passes = len({o["pass"] for o in ops})
    per_pass: dict[int, dict[str, float]] = {}
    for o in ops:
        p = per_pass.setdefault(o["pass"], {})
        wall = o["end"] - o["start"]
        p["wall"] = p.get("wall", 0.0) + wall
        phase_sum = 0.0
        for phase in ("build", "plan", "exec"):
            s = phase_span.get((o["op"], phase))
            if s is not None:
                p[phase] = p.get(phase, 0.0) + s.dur
                p[phase + "_self"] = p.get(phase + "_self", 0.0) + selfs[s.span_id]
                phase_sum += s.dur
                if phase == "build" and o["kind"] == "read":
                    p["read_discovery"] = p.get("read_discovery", 0.0) + s.dur
        p["unattributed"] = p.get("unattributed", 0.0) + wall - phase_sum
    jobs_in = {"build": 0, "build_stages": 0, "exec": 0, "exec_stages": 0, "discovery": 0,
               "write": 0}
    exec_stages: list = []
    kind = {o["op"]: o["kind"] for o in ops}
    for op, phases in groups.items():
        for phase, (js, ss) in phases.items():
            if phase in ("build", "catalog"):
                jobs_in["build"] += len(js)
                jobs_in["build_stages"] += len(ss)
                jobs_in["discovery"] += sum(not j.sql for j in js)
            elif phase == "exec":
                jobs_in["exec"] += len(js)
                jobs_in["exec_stages"] += len(ss)
                exec_stages.extend(ss)
                if kind[op] == "write":
                    jobs_in["write"] += len(js)

    def med(key):
        return median([p.get(key, 0.0) for p in per_pass.values()])

    total = med("wall") or 1.0
    d = max(n_passes, 1)
    out = {
        "build.s": med("build"),
        "build.self_s": med("build_self"),
        "build.share": med("build") / total,
        "build.jobs": jobs_in["build"] / d,
        "build.stages": jobs_in["build_stages"] / d,
        "catalog.discovery_jobs": jobs_in["discovery"] / d,
        "plan.s": med("plan"),
        "plan.share": med("plan") / total,
        "exec.s": med("exec"),
        "exec.self_s": med("exec_self"),
        "exec.jobs": jobs_in["exec"] / d,
        "exec.stages": jobs_in["exec_stages"] / d,
        "exec.tasks": _stage_metrics(exec_stages)["tasks"] / d,
        "trace.unattributed_s": med("unattributed"),
        "read.discovery_s": med("read_discovery"),
        "write.jobs": jobs_in["write"] / d,
    }
    out.update(_layer_common(groups, n_passes))
    return out


def flight_layers(tracer, ops: list[dict], jobs: dict, stages: dict) -> dict[str, float]:
    """Per-request layer split of the Flight SQL workload, from the
    server-side request spans (plan, get_info) and the requests' jobs.
    Only requests inside the measured window count; the output check's
    requests come after it."""
    lo, hi = min(o["start"] for o in ops), max(o["end"] for o in ops)
    reqs = {s.span_id: s for s in tracer.spans
            if s.name == "request" and lo <= s.start <= hi}
    phase = {"plan": 0.0, "get_info": 0.0}
    for s in tracer.spans:
        if s.parent in reqs:
            phase[s.name] += s.dur
    n = max(len(reqs), 1)
    groups = _jobs_by_op(jobs, stages, {s.op for s in reqs.values()})
    n_jobs = sum(len(js) for phases in groups.values() for js, _ in phases.values())
    exec_stages = [s for phases in groups.values() for _, ss in phases.values() for s in ss]
    total = phase["plan"] + phase["get_info"]
    out = {
        "plan.s": phase["plan"] / n,
        "plan.share": phase["plan"] / total if total else 0.0,
        "exec.s": phase["get_info"] / n,
        "exec.jobs": n_jobs / n,
        "exec.stages": len(exec_stages) / n,
        "exec.tasks": _stage_metrics(exec_stages)["tasks"] / n,
        "flight_sql.jobs_per_req": n_jobs / n,
    }
    out.update(_layer_common(groups, n))
    return out


def _overhead_share(results_dir: str, workload: str, seed: int, suite_cpu: float):
    """Traced ``suite_cpu_s`` against the untraced runs of this workload in
    the same checkout (same seed preferred); (share, basis)."""
    from perfbench.stats import median

    same = os.path.join(results_dir, f"{workload}-seed{seed}-trace0.json")
    paths = [same] if os.path.exists(same) else [
        os.path.join(results_dir, n) for n in sorted(os.listdir(results_dir))
        if n.startswith(f"{workload}-seed") and n.endswith("-trace0.json")
    ]
    base = []
    for p in paths:
        with open(p) as f:
            base.append(json.load(f)["metrics"]["suite_cpu_s"]["value"])
    if not base:
        return 0.0, "no untraced run of this workload in this checkout"
    return suite_cpu / median(base) - 1.0, f"median suite_cpu_s of {len(base)} untraced run(s)"


# -- the run ------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    """One run; every process it starts has ended when this returns."""
    _become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    try:
        return _run(argv)
    finally:
        stop_process_tree()


def _run(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description="arrow_spark benchmark (one run)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not _engine_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.trace import Tracer, event_log_files, parse_event_log, read_events

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    results_dir = os.path.join(work, "results")
    os.makedirs(results_dir, exist_ok=True)
    _set_environment(work)
    traced = bool(a.trace)
    extra_conf = None
    log_dir = os.path.join(work, "eventlog")
    if traced:
        os.makedirs(log_dir, exist_ok=True)
        extra_conf = {"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir}

    from arrow_spark import get_spark
    from arrow_spark.queries import load_all

    rss = RssSampler()
    rss.start()
    ctx = workloads.Ctx(ROOT, work, "", a.seed, Tracer() if traced else None)
    ctx.rss_exclude = rss.exclude
    wl = workloads.WORKLOADS[a.workload](ctx)
    try:
        t = time.time()
        ctx.spark = get_spark(f"perfbench-{a.workload}", extra_conf=extra_conf)
        get_spark_s = time.time() - t
        cpu_before_gen = sum(rss.cpu_s().values())
        ctx.sf_dir, gen_s = _ensure_data(ctx.spark, work)
        gen_cpu_s = sum(rss.cpu_s().values()) - cpu_before_gen if gen_s else 0.0
        ctx.qs = load_all()
        wl.prepare()
        t = time.time()
        wl.warmup()
        warmup_s = time.time() - t
        # process start to the first timed operation, less input generation
        setup_wall_s = time.time() - T_PROCESS - gen_s

        t_measure = time.time()
        cpu0 = _cpu_ticks()
        proc0 = rss.cpu_s()
        setup_cpu_s = sum(proc0.values()) - gen_cpu_s
        ops = wl.measure(a.seconds, T_PROCESS + PASS_DEADLINE_S)
        t_measured = time.time()
        cpu1 = _cpu_ticks()
        proc1 = rss.cpu_s()
        checks = wl.check()
        t_checked = time.time()
        extras = wl.layer_extras(ops)
        prov = _provenance(a.seed, ctx.spark, ctx.sf_dir)
        t_prov = time.time()
        catalog_s = []
        if traced:
            from arrow_spark.catalog import TABLES, table

            for name in TABLES:
                t = time.time()
                table(ctx.spark, ctx.sf_dir, name)
                catalog_s.append(time.time() - t)
        app_id = ctx.sc.applicationId
    finally:
        wl.release()
        if ctx.spark is not None:
            ctx.spark.stop()
        rss.stop()
        stop_process_tree()
    t_stopped = time.time()

    from perfbench.stats import median

    is_flight = a.workload == "flight_sql_serve"
    rss_mb = rss.window_mb(t_measure, t_measured)
    engine_cpu = sum(v - proc0.get(pid, 0.0) for pid, v in proc1.items()
                     if pid not in rss.exclude)
    figures, notes = end_to_end(ops, setup_cpu_s, engine_cpu, wl.ops_per_pass, wl.limit_s)
    attempted, failures = outcome(ops, checks)
    figures.update(extras)
    figures.update({
        "session.setup_wall_s": setup_wall_s,
        "memory.peak_rss_mb": max(rss_mb, default=0.0),
        "memory.rss_p50_mb": median(rss_mb),
        # CPU time the hypervisor gave to other guests during the passes
        "host.cpu_steal_share": (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1),
    })
    notes["run_phases_s"] = {
        "setup": t_measure - T_PROCESS, "input_generation": gen_s, "measure": t_measured - t_measure,
        "check": t_checked - t_measured, "provenance": t_prov - t_checked,
        "teardown": t_stopped - t_prov,
    }
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "provenance": prov, "notes": notes, "figures": figures,
        "ops_failed_frac": len(failures) / attempted, "failures": failures[:20],
        "ops": [{k: v for k, v in o.items() if k != "output"} for o in ops],
    }
    base = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if traced:
        jobs, stages = parse_event_log(read_events(event_log_files(log_dir, app_id)))
        layers = {name: 0.0 for name, _, _ in PER_LAYER}
        layers.update({k: v for k, v in figures.items() if k in layers})
        layers["session.get_spark_s"] = get_spark_s
        layers["session.warmup_s"] = warmup_s
        layers["catalog.table_s"] = median(catalog_s)
        layers["checkpoint.persisted_rdds_max"] = float(ctx.persisted_max)
        if is_flight:
            layers.update(flight_layers(ctx.tracer, ops, jobs, stages))
        else:
            layers.update(batch_layers(ops, ctx.tracer, jobs, stages))
        share, basis = _overhead_share(results_dir, a.workload, a.seed, figures["suite_cpu_s"])
        layers["trace.overhead_share"] = share
        layers["trace.spans"] = float(len(ctx.tracer.spans))
        record["notes"]["trace_overhead_basis"] = basis
        ctx.tracer.dump(os.path.join(results_dir, base + "-spans.json"))
        shown = [(n, u, layers[n]) for n, u, _ in PER_LAYER]
    else:
        shown = [(n, u, figures[n]) for n, u, _ in END_TO_END]
    metrics = {n: {"value": v, "unit": u} for n, u, v in shown}
    record["metrics"] = metrics
    with open(os.path.join(results_dir, base + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("perfbench: " + json.dumps(
        {"provenance": prov, "notes": record["notes"], "ops_failed_frac":
         record["ops_failed_frac"], "failures": failures[:5], "figures": figures},
        default=str))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
