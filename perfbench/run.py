"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_dedup --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run derives its input tables from
`--seed`, starts Spark as `local[<nproc>]` through
`parkour_spark.session.build_session`, runs every operation once cold
(checking its output), then repeats passes over the workload for at
least `--seconds` seconds and at least the workload's minimum number of
passes. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
run turns on a plain Spark event log and job groups and reports the
per-layer split instead. A human-readable report goes to the lines
before it and, in full, to `.bench_results/`.

Everything the run writes lives under `.bench_work/` in the checkout
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()  # setup_s counts from here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import PASSES, WITH_INDEX, WORKLOADS  # noqa: E402

CATALYST_PHASES = ("analysis", "optimization", "planning")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the run creates inside `work`, and let Spark's
    Python workers import the engine from the checkout."""
    for sub in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the run starts (the spark-submit launcher and the driver):
    # temp files under `work`, and no /tmp/hsperfdata_* files
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _quantile(values, q):
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class ProcessTree:
    """The Spark JVM and every process under it (the Python workers),
    read from /proc."""

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, root_pid: int):
        self.root_pid = root_pid

    def _pids(self) -> list[int]:
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
        pids, stack = [], [self.root_pid]
        while stack:
            pid = stack.pop()
            pids.append(pid)
            stack.extend(children.get(pid, ()))
        return pids

    def rss_kb(self) -> int:
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        return total

    def cpu_s(self) -> float:
        """User+system CPU of the tree, including reaped descendants."""
        ticks = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return ticks / self.TICK

    def jit_cpu_s(self) -> float:
        """User+system CPU of the JVM's JIT compiler threads."""
        ticks = 0
        task_dir = f"/proc/{self.root_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            if "CompilerThre" in head:
                fields = rest.split()
                ticks += int(fields[11]) + int(fields[12])
        return ticks / self.TICK


class RssSampler(threading.Thread):
    """Samples the resident set of a process tree and keeps the peak."""

    def __init__(self, tree: ProcessTree, period: float = 0.2):
        super().__init__(daemon=True)
        self.tree, self.period = tree, period
        self.peak_kb = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, self.tree.rss_kb())

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.data_dir = os.path.join(work, "inputs")
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: list[dict] = []  # one per timed operation
        self.passes: list[dict] = []
        self.setup: dict[str, float] = {}
        self.plans: dict[str, str] = {}  # query -> its own executed plan
        self.first_results: dict[str, tuple] = {}  # query -> (columns, rows)
        self.oracle_results: dict[str, object] = {}  # query -> (cols, rows, types) | error
        self.index = None

    # -- session and set-up ---------------------------------------------
    def _session(self):
        from parkour_spark.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            # compiler threads live for the whole run, so their CPU can be
            # told apart from the work's (see ProcessTree.jit_cpu_s)
            "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return build_session("perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf)

    def set_up(self) -> None:
        """Session start (the JVM launch included), input derivation, then
        the index builds of the workloads that serve an index."""
        from inputs import derive

        t0 = time.perf_counter()
        self.spark = self._session()
        t1 = time.perf_counter()
        derive(self.data_dir, self.args.seed)
        t2 = time.perf_counter()
        self.setup["session"] = t1 - t0
        self.setup["derive"] = t2 - t1
        self.tree = ProcessTree(self.spark.sparkContext._gateway.proc.pid)
        self.rss = RssSampler(self.tree)
        self.rss.start()
        t3 = time.perf_counter()
        if self.args.workload in WITH_INDEX:
            self._build_index()
        self.setup["index"] = time.perf_counter() - t3

    def _build_index(self) -> None:
        from workloads import IndexLifecycle

        idx_dir = os.path.join(self.work, "index")
        self._group("setup", "index_build")
        self.index = IndexLifecycle(self.spark, self.data_dir, idx_dir, self.args.seed)
        self.index.build()

    # -- tracing ----------------------------------------------------------
    def _group(self, *parts) -> str:
        name = "pb|" + "|".join(str(p) for p in parts)
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)
        return name

    def _catalyst(self, df, key: str) -> dict:
        """Force the DataFrame's own optimization and physical planning
        and read the phase times from its QueryPlanningTracker."""
        qe = df._jdf.queryExecution()
        self.plans.setdefault(key, qe.executedPlan().toString())
        phases = qe.tracker().phases()
        return {
            ph: (phases.apply(ph).durationMs() / 1000.0 if phases.contains(ph) else 0.0)
            for ph in CATALYST_PHASES
        }

    # -- operations -------------------------------------------------------
    def _batch_ops(self):
        from parkour_spark.queries import QUERIES
        from workloads import BATCH, Op

        return [
            Op(q, "query", module, (lambda q=q: QUERIES[q](self.spark, self.data_dir)))
            for q, module in BATCH[self.args.workload]
        ]

    def _run_op(self, op, pass_no: int, i: int, first: bool) -> dict:
        """Run one operation; returns its sample. Batch queries are timed
        through a noop write (every operator runs); probes are collected
        (the result is what a caller needs, and is then checked)."""
        self.attempted += 1
        tag = f"{i:02d}-{op.name}"
        sample = {"pass": pass_no, "op": op.name, "kind": op.kind, "module": op.module,
                  "build_s": 0.0, "action_s": 0.0, "groups": []}
        try:
            sample["groups"].append(self._group(pass_no, tag, "build"))
            c0 = self._work_cpu_s()
            t0 = time.perf_counter()
            df = op.build()
            t1 = time.perf_counter()
            rows = None
            if df is not None:
                if self.trace:
                    sample["catalyst"] = self._catalyst(df, op.name)
                sample["groups"].append(self._group(pass_no, tag, "action"))
                t2 = time.perf_counter()
                if op.kind == "query" and not first:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    rows = df.collect()
                t3 = time.perf_counter()
                sample["action_s"] = t3 - t2
            sample["cpu_s"] = self._work_cpu_s() - c0
            sample["build_s"] = t1 - t0
            sample["wall_s"] = sample["build_s"] + sample["action_s"]
            if self.trace:
                self.spark.sparkContext.setJobGroup("pb|check", "pb|check")
            if first and op.kind == "query":
                self.first_results[op.name] = (df.columns, rows)
            elif op.check is not None:
                err = op.check(rows)
                if err:
                    self.failures.append(f"pass {pass_no} {op.name}: {err}")
        except Exception as e:  # a failing operation is counted, never dropped
            self.failures.append(f"pass {pass_no} {op.name}: {type(e).__name__}: {str(e)[:300]}")
            sample["wall_s"] = sample["cpu_s"] = float("nan")
        return sample

    def _work_cpu_s(self) -> float:
        """CPU seconds the run has spent so far on work: the Spark JVM,
        its Python workers and this process's main thread, without the
        JVM's JIT compiler threads. Compilation runs in the background for
        minutes after start-up, by an amount that differs from run to run;
        it is reported on its own (`jvm.jit_cpu_s`). The benchmark's own
        threads (the RSS sampler, the oracle runner) are left out too."""
        return self.tree.cpu_s() + time.thread_time() - self.tree.jit_cpu_s()

    def _start_oracles(self) -> threading.Thread:
        """Run every query's DuckDB oracle over the same derived tables in a
        background thread (DuckDB releases the GIL), while Spark warms up."""
        import importlib.util

        import duckdb

        from inputs import TABLES
        from parkour_spark.queries import ORACLES
        from workloads import BATCH

        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
        )
        self.check_oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.check_oracle)
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        names = [q for q, _ in BATCH[self.args.workload] if q in ORACLES]

        def run():
            for q in names:
                try:
                    res = con.execute(ORACLES[q])
                    cols = [d[0] for d in res.description]
                    rows = res.fetchall()
                    types = [str(t) for t in con.sql(ORACLES[q]).types]
                    self.oracle_results[q] = (cols, rows, types)
                except Exception as e:  # reported as that query's failure
                    self.oracle_results[q] = e
            con.close()

        th = threading.Thread(target=run, daemon=True)
        th.start()
        return th

    def _oracle_check(self, name: str) -> str | None:
        """scripts/check_oracle.py's exact-repr comparison."""
        if name not in self.oracle_results:
            return None
        want = self.oracle_results[name]
        if isinstance(want, Exception):
            return f"oracle failed: {want}"
        if name not in self.first_results:
            return None  # the query itself raised; already counted
        cols, rows = self.first_results[name]
        d_cols, d_rows, d_types = want
        chk = self.check_oracle
        if any(t.startswith(a) for t in d_types for a in chk.ASYMMETRIC_TYPES):
            return f"oracle returns an asymmetric type {d_types}"
        if sorted(cols) != sorted(d_cols):
            return f"columns spark={sorted(cols)} oracle={sorted(d_cols)}"
        if len(rows) != len(d_rows):
            return f"rows spark={len(rows)} oracle={len(d_rows)}"
        if chk.rows_key(cols, [tuple(r) for r in rows]) != chk.rows_key(d_cols, d_rows):
            return "values differ from the oracle"
        return None

    def _pass(self, pass_no: int, first: bool) -> None:
        ops = self._batch_ops()
        if self.index is not None:
            ops += self.index.pass_ops()
        t0 = time.perf_counter()
        samples = []
        files = None
        jit0, steal0 = self.tree.jit_cpu_s(), _steal_s()
        for i, op in enumerate(ops):
            if self.index is not None and op.name == "compact_textindex":
                files = self.index.footprint()
            samples.append(self._run_op(op, pass_no, i, first))
        ok = [s for s in samples if not math.isnan(s["wall_s"])]
        self.passes.append({"pass": pass_no, "wall_s": sum(s["wall_s"] for s in ok),
                            "cpu_s": sum(s["cpu_s"] for s in ok),
                            "jit_cpu_s": self.tree.jit_cpu_s() - jit0, "steal_s": _steal_s() - steal0,
                            "elapsed_s": time.perf_counter() - t0, "footprint": files})
        self.samples.extend(samples)

    def measure(self) -> None:
        oracles = self._start_oracles()
        t0 = time.perf_counter()
        self._pass(0, first=True)
        oracles.join()
        for q in self.first_results.keys() | self.oracle_results.keys():
            err = self._oracle_check(q)
            if err:
                self.failures.append(f"pass 0 {q}: {err}")
        warm, at_least = PASSES[self.args.workload]
        for _ in range(warm):
            self._pass(-1, first=False)
        self.window_start = time.perf_counter()
        # warm-up: the cold checked pass, the oracle checks and the
        # unmeasured passes; set-up ends at the first timed operation
        self.setup["warmup"] = self.window_start - t0
        self.setup["total"] = self.window_start - T_START
        end = self.window_start + self.args.seconds
        n = 0
        while n < at_least or time.perf_counter() < end:
            n += 1
            self._pass(n, first=False)
        self.window_s = time.perf_counter() - self.window_start
        self.rss.sample()

    def stop(self) -> None:
        if getattr(self, "rss", None) is not None:
            self.rss.stop()
            self.peak_rss_kb = self.rss.peak_kb
            self.rss = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- metrics ---------------------------------------------------------------
    def _timed(self):
        return [s for s in self.samples if s["pass"] > 0 and not math.isnan(s["wall_s"])]

    def _geomean_of_medians(self, key: str) -> float:
        """Geometric mean over the operations of each one's median `key`
        over the measured passes: every operation weighs the same."""
        per_op: dict[str, list[float]] = {}
        for s in self._timed():
            per_op.setdefault(s["op"], []).append(s[key])
        return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in per_op.values()))

    def end_to_end(self) -> dict:
        measured = [p for p in self.passes if p["pass"] > 0]
        return {
            "setup_s": (self.setup["total"], "s"),
            "pass_cpu_s": (statistics.median(p["cpu_s"] for p in measured), "s"),
            "query_cpu_geomean_s": (self._geomean_of_medians("cpu_s"), "s"),
        }

    def wall(self) -> dict:
        """Wall-time figures of the measured passes, for the report."""
        measured = [p for p in self.passes if p["pass"] > 0]
        return {
            "pass_s": (statistics.median(p["wall_s"] for p in measured), "s"),
            "query_geomean_s": (self._geomean_of_medians("wall_s"), "s"),
        }

    def per_layer(self) -> dict:
        from eventlog import GroupStats, plan_operators, read
        from workloads import MODULES

        logs = sorted(glob.glob(os.path.join(self.work, "events", "*")), key=os.path.getmtime)
        groups = read(logs[-1]) if logs else {}
        timed = self._timed()
        measured = sorted({s["pass"] for s in timed})
        first = measured[0] if measured else None
        out: dict[str, tuple[float, str]] = {}

        def stats_of(samples) -> GroupStats:
            st = GroupStats()
            for s in samples:
                for grp in s["groups"]:
                    if grp in groups:
                        st.add(groups[grp])
            return st

        def med(values):
            values = list(values)
            return float(statistics.median(values)) if values else 0.0

        by_pass = {p: [s for s in timed if s["pass"] == p] for p in measured}
        pass_stats = {p: stats_of(ss) for p, ss in by_pass.items()}
        first_stats = pass_stats.get(first, GroupStats())

        out["session.build_session_s"] = (self.setup["session"], "s")
        out["inputs.derive_s"] = (self.setup["derive"], "s")
        out["warmup_s"] = (self.setup["warmup"], "s")
        out["index.build_s"] = (self.setup["index"], "s")
        out["peak_rss_mb"] = (self.peak_rss_kb / 1024.0, "MB")
        walls = [s["wall_s"] for s in timed]
        out["op.p50_ms"] = (1000 * med(walls), "ms")
        out["op.p90_ms"] = (1000 * _quantile(walls, 0.9) if walls else 0.0, "ms")
        out["trace.pass_s"] = (med(sum(s["wall_s"] for s in ss) for ss in by_pass.values()), "s")
        out["trace.query_geomean_s"] = (self._geomean_of_medians("wall_s"), "s")
        out["jvm.jit_cpu_s"] = (med(p["jit_cpu_s"] for p in self.passes if p["pass"] in by_pass), "s")
        out["registry.build_s"] = (med(sum(s["build_s"] for s in ss if s["kind"] == "query")
                                       for ss in by_pass.values()), "s")
        out["action_s"] = (med(sum(s["action_s"] for s in ss) for ss in by_pass.values()), "s")
        for ph in CATALYST_PHASES:
            out[f"catalyst.{ph}_s"] = (
                med(sum(s.get("catalyst", {}).get(ph, 0.0) for s in ss) for ss in by_pass.values()), "s")
        # counts: the first measured pass (identical across runs of a seed)
        out["spark.jobs"] = (first_stats.jobs, "count")
        out["spark.stages"] = (first_stats.stages, "count")
        out["spark.tasks"] = (first_stats.tasks, "count")
        out["shuffle.read_bytes"] = (first_stats.shuffle_read_bytes, "B")
        out["shuffle.write_bytes"] = (first_stats.shuffle_write_bytes, "B")
        out["spill.disk_bytes"] = (first_stats.spill_disk_bytes, "B")
        out["scan.bytes_read"] = (first_stats.scan_bytes, "B")
        out["pyworker.bytes_sent"] = (first_stats.py_sent_bytes, "B")
        out["pyworker.bytes_returned"] = (first_stats.py_returned_bytes, "B")
        # times: median over measured passes
        ps = list(pass_stats.values())
        out["spark.in_jobs_s"] = (med(st.in_jobs_ms / 1000 for st in ps), "s")
        out["driver.outside_jobs_s"] = (
            med(sum(s["wall_s"] for s in by_pass[p]) - pass_stats[p].in_jobs_ms / 1000 for p in measured), "s")
        out["task.cpu_s"] = (med(st.task_cpu_ns / 1e9 for st in ps), "s")
        out["task.run_s"] = (med(st.task_run_ms / 1000 for st in ps), "s")
        out["task.gc_s"] = (med(st.task_gc_ms / 1000 for st in ps), "s")
        out["pyworker.boot_s"] = (med(st.py_boot_ms / 1000 for st in ps), "s")
        out["pyworker.init_s"] = (med(st.py_init_ms / 1000 for st in ps), "s")
        out["pyworker.run_s"] = (med(st.py_run_ms / 1000 for st in ps), "s")
        # index layer: probes and writes, medians over the measured passes
        probes = [s for s in timed if s["kind"] == "probe"]
        writes = [s for s in timed if s["kind"] == "write"]
        out["textindex.probe_ms"] = (1000 * med(s["wall_s"] for s in probes), "ms")
        for op, unit, scale in (("append", "ms", 1000), ("delete", "ms", 1000), ("compact", "s", 1)):
            walls = [s["wall_s"] for s in writes if s["op"] == f"{op}_textindex"]
            out[f"textindex.{op}_{unit}"] = (scale * med(walls), unit)
        first_probes = [s for s in probes if s["pass"] == first]
        pst = stats_of(first_probes)
        out["probe.jobs"] = (pst.jobs / max(1, len(first_probes)), "count")
        out["probe.files_read"] = (pst.files_read / max(1, len(first_probes)), "count")
        fps = [p["footprint"] for p in self.passes if p["pass"] == first and p["footprint"]]
        out["index.files"] = (fps[0][0] if fps else 0, "count")
        out["index.bytes_per_live_byte"] = (fps[0][1] if fps else 0.0, "ratio")
        # per engine module
        for mod in MODULES:
            mine = {p: [s for s in ss if s["module"] == mod] for p, ss in by_pass.items()}
            out[f"mod.{mod}.wall_s"] = (med(sum(s["wall_s"] for s in ss) for ss in mine.values()), "s")
            out[f"mod.{mod}.in_jobs_s"] = (med(stats_of(ss).in_jobs_ms / 1000 for ss in mine.values()), "s")
            out[f"mod.{mod}.task_cpu_s"] = (med(stats_of(ss).task_cpu_ns / 1e9 for ss in mine.values()), "s")
        # self-test: the timed (noop-write) plan keeps every operator of the
        # query's own executed plan
        dropped = 0
        for s in timed:
            if s["kind"] != "query" or s["pass"] != first or s["op"] not in self.plans:
                continue
            action = groups.get(s["groups"][-1])
            timed_ops = set().union(*(plan_operators(p) for p in action.plans)) if action else set()
            missing = plan_operators(self.plans[s["op"]]) - timed_ops
            if missing:
                dropped += 1
                self.failures.append(f"timed plan of {s['op']} lacks {sorted(missing)}")
        out["plan.queries_losing_ops"] = (dropped, "count")
        out["error_rate"] = (len(self.failures) / max(1, self.attempted), "ratio")
        return out


def _shutdown_jvm(timeout: float = 60.0) -> None:
    """End the JVM the session launched and wait until it and every
    process under it (the Python workers) have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    pids = ProcessTree(proc.pid)._pids()[1:]
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _env_info() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "loadavg": list(os.getloadavg()),
        "steal_s": _steal_s(),
    }


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / ProcessTree.TICK if len(fields) > 8 else 0.0


def main(argv=None) -> int:
    args = _parse(argv if argv is not None else sys.argv[1:])
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        import parkour_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    env = {"start": _env_info()}
    bench = Bench(args, work)
    try:
        bench.set_up()
        bench.measure()
        e2e = bench.end_to_end()
        wall = bench.wall()
        bench.stop()
        metrics = bench.per_layer() if bench.trace else e2e
    finally:
        try:
            bench.stop()
            _shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    env["end"] = _env_info()
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "env": env, "window_s": bench.window_s, "setup": bench.setup, "passes": bench.passes,
        "samples": [{k: v for k, v in s.items() if k != "groups"} for s in bench.samples],
        "failures": bench.failures, "end_to_end": e2e, "wall": wall, "peak_rss_mb": bench.peak_rss_kb / 1024.0,
        "per_layer": metrics if bench.trace else None,
    }
    os.makedirs(os.path.join(ROOT, ".bench_results"), exist_ok=True)
    out = os.path.join(ROOT, ".bench_results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, default=str)
    _print_report(report, metrics)
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _print_report(report: dict, metrics: dict) -> None:
    env = report["env"]
    print(f"workload={report['workload']} seed={report['seed']} trace={report['trace']} "
          f"nproc={env['start']['nproc']} python={env['start']['python']} "
          f"pyspark={env['start']['pyspark']} loadavg start={env['start']['loadavg']} "
          f"end={env['end']['loadavg']} steal={env['end']['steal_s'] - env['start']['steal_s']:.1f}s")
    timed = [s for s in report["samples"] if s["pass"] > 0]
    print(f"measured passes={len([p for p in report['passes'] if p['pass'] > 0])} "
          f"timed ops={len(timed)} window={report['window_s']:.2f}s")
    per_op: dict[str, list[tuple[float, float]]] = {}
    for s in timed:
        per_op.setdefault(s["op"], []).append((s["wall_s"], s["cpu_s"]))
    for op, xs in per_op.items():
        print(f"  {op:32s} n={len(xs):3d} median wall={statistics.median(x[0] for x in xs):.4f}s "
              f"cpu={statistics.median(x[1] for x in xs):.4f}s")
    for f in report["failures"]:
        print(f"  FAILED {f}")
    for k, (v, u) in report["wall"].items():
        print(f"  wall {k} = {v} {u}")
    for k, (v, u) in metrics.items():
        print(f"  {k} = {v} {u}")


if __name__ == "__main__":
    sys.exit(main())
