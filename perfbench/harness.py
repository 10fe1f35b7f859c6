"""One benchmark run: an isolated working directory, the Spark session
lifecycle, timed operations with their checks, and metric assembly."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from collections import defaultdict

from tracing import ENGINE_METRICS, Tracer, fold_event_log, read_events


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> tuple[int, float]:
    """(parent pid, CPU seconds) of a process from ``/proc/<pid>/stat``:
    user + system time of all its threads, exited ones included, plus that
    of every child it has reaped."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) * _TICK_S


# HotSpot's JIT compiler threads. The benchmark's JVM keeps them alive
# (-XX:-UseDynamicNumberOfCompilerThreads), so their CPU time can be read
# per thread.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_s(pids) -> float:
    """CPU seconds of the JIT compiler threads of processes ``pids``."""
    ns = 0
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not f.read().startswith(_JIT_THREADS):
                        continue
                with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                    ns += int(f.read().split()[0])
            except OSError:
                continue
    return ns / 1e9


class ProgramCpu:
    """CPU seconds the program has used: process ``root`` and its
    descendants (the Python driver, the JVM it launched and the JVM's Python
    workers), with garbage-collector and other JVM threads, threads that
    have exited and children that were reaped.

    A reading is ``(program_s, jit_s)``: the JVM's JIT compiler threads are
    counted apart, in ``jit_s``, because their CPU time follows HotSpot's
    compile queue rather than the work the program does (see
    ``Run.end_to_end``). CPU time is what the program ran, so CPU time the
    hypervisor gives to other guests (steal time) does not inflate it as it
    inflates wall time. The clock's own cost (this process reading
    ``/proc``) is taken out.
    """

    def __init__(self, root: int):
        self.root = root
        self.own_s = 0.0  # CPU this thread spent in earlier readings

    def __call__(self) -> tuple[float, float]:
        t0 = time.thread_time()
        # the root first, so all of this reading's own cost falls after it
        parent = {self.root: (0, _stat(self.root)[1])}
        for d in os.listdir("/proc"):
            if d.isdigit() and int(d) != self.root:
                try:
                    parent[int(d)] = _stat(d)
                except OSError:
                    continue  # exited while we looked
        tree, frontier = {self.root}, {self.root}
        while frontier:
            frontier = {p for p, (pp, _) in parent.items() if pp in frontier} - tree
            tree |= frontier
        jit = _jit_s(tree)
        value = sum(parent[p][1] for p in tree) - jit - self.own_s
        self.own_s += time.thread_time() - t0
        return value, jit


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under a warehouse directory, ignoring markers and
    checksums."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Run:
    """State of one benchmark run; every file it writes lives under ``work``."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.root, self.workload, self.seed, self.seconds = root, workload, seed, seconds
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer() if trace else None
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.session_start_s = 0.0
        self.setups: list[float] = []
        self.passes: list[float] = []
        self.pass_cpu: list[float] = []
        self.pass_jit: list[float] = []
        self.ops: list[dict] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.cpu = ProgramCpu(os.getpid())
        self.rss_kb = (0, 0)  # peak RSS of (this Python driver, the JVM)
        self.t0 = time.perf_counter()
        self.phases: list[tuple[str, float]] = []

    def mark(self, phase: str) -> None:
        """Record that ``phase`` starts now (printed as a run timeline)."""
        self.phases.append((phase, time.perf_counter() - self.t0))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # --- session -------------------------------------------------------
    def start_session(self):
        """Start the run's Spark application (this launches the JVM)."""
        from harvard_artifacts_collection_data_engineering_analytics_app_spark.session import (
            get_spark,
        )

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer is not None:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.path("eventlog"),
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=f"local[{self.cpus}]",
                               shuffle_partitions=self.cpus, extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.cpus_effective"] = [self.spark.sparkContext.defaultParallelism]
        self.layer["session.shuffle_partitions"] = [
            int(self.spark.conf.get("spark.sql.shuffle.partitions"))]
        return self.spark

    def _sample_rss(self) -> None:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.rss_kb = (_vm_hwm_kb("self"), _vm_hwm_kb(jvm))

    def close(self) -> None:
        """Stop the application and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self._sample_rss()
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        if self.tracer is not None:
            self.tracer.unwrap_all()

    # --- operations ----------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def op(self, name: str, fn, phase: str, module: str = ""):
        """Run ``fn()`` as one timed benchmark operation; returns its result."""
        op_id = f"op{len(self.ops)}"
        sc = self.spark.sparkContext
        if self.tracer is not None:
            sc.setJobGroup(op_id, name, False)
        ctx = self.tracer.span(name, op=op_id) if self.tracer else contextlib.nullcontext()
        cpu0, jit0 = self.cpu()
        wall0 = time.time()
        t0 = time.perf_counter()
        with ctx:
            out = fn()
        seconds = time.perf_counter() - t0
        cpu1, jit1 = self.cpu()
        if self.tracer is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append({"id": op_id, "name": name, "phase": phase, "module": module,
                         "seconds": seconds, "cpu_s": cpu1 - cpu0, "jit_s": jit1 - jit0,
                         "start": wall0, "end": time.time(),
                         "rows": len(out) if hasattr(out, "__len__") else 0})
        return out

    def attempt(self, what: str, fn) -> None:
        """Run one operation and its check; an exception counts as a failed
        operation instead of ending the run."""
        try:
            fn()
        except Exception as exc:  # the program's failure is a result here
            self.verdict(what, [f"{type(exc).__name__}: {str(exc)[:300]}"])

    def verdict(self, what: str, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.failures.append(f"{what}: {errs[0]}")

    def op_seconds(self, fn) -> float:
        """Run ``fn()`` and return the time of the operations it ran, so
        that checks and oracles between them are never counted."""
        first = len(self.ops)
        fn()
        return sum(o["seconds"] for o in self.ops[first:])

    def measure(self, one_pass, nominal_pass_s: float, warmups: int = 1) -> None:
        """Warm up with ``warmups`` passes, then time whole passes filling
        about ``seconds`` at the nominal pass length, so that every run of a
        workload measures the same number of passes."""
        self.mark("warmup")
        for _ in range(warmups):
            one_pass("warmup")
        self.mark("timed")
        for _ in range(max(1, round(self.seconds / nominal_pass_s))):
            first = len(self.ops)
            self.passes.append(self.op_seconds(lambda: one_pass("timed")))
            self.pass_cpu.append(sum(o["cpu_s"] for o in self.ops[first:]))
            self.pass_jit.append(sum(o["jit_s"] for o in self.ops[first:]))

    def timed(self, phase: str = "timed") -> list[dict]:
        return [o for o in self.ops if o["phase"] == phase]

    # --- metrics -------------------------------------------------------
    def end_to_end(self) -> tuple[dict[str, float], dict[str, int]]:
        # Timed passes are gated on the CPU time the program ran, not on wall
        # time: on a shared 4-vCPU virtual machine wall times of the same
        # pass spread by 20-34% run to run (interquartile range over median
        # of five to ten seeds), above any bound a regression gate can hold.
        # CPU time does not see a change that only adds waiting or cuts
        # parallelism; wall times are printed with every run and reported as
        # the per-layer ``trace.*`` metrics. The JIT compiler threads are
        # left out of the gated CPU time and reported as ``jvm.jit_cpu_s``:
        # they still compile 2-5 CPU seconds in a timed pass of the operator
        # mix, and with them counted its pass CPU spread by 14% over ten
        # seeds, without them by 9%.
        values = {"setup_s": self.session_start_s + _median(self.setups),
                  "pass_cpu_s": self.typical_pass_cpu()}
        samples = {"setup_s": len(self.setups), "pass_cpu_s": len(self.pass_cpu)}
        return values, samples

    def typical_pass_cpu(self) -> float:
        """CPU seconds of a typical timed pass: the sum, over the operations
        a pass runs, of each operation's median CPU time across the timed
        passes. Single operations jump between two levels from pass to pass:
        in the operator mix the Python workers of the minhash query take
        0.8-0.9 or 1.1-1.2 CPU seconds, PageRank's task threads 0.5-0.8 or
        1.0-1.3. A median per operation filters the jumps of each, where a
        median of pass totals keeps any pass in which two of them met."""
        by_name: dict[str, list[float]] = defaultdict(list)
        for o in self.timed():
            by_name[o["name"]].append(o["cpu_s"])
        return sum(_median(v) for v in by_name.values())

    def wall_summary(self) -> str:
        lat = [o["seconds"] * 1e3 for o in self.timed()]
        return (f"wall: session start {self.session_start_s:.2f} s, set-ups "
                + "/".join(f"{x:.2f}" for x in self.setups) + " s, passes "
                + "/".join(f"{x:.2f}" for x in self.passes) + " s (CPU "
                + "/".join(f"{x:.2f}" for x in self.pass_cpu) + " s, JIT compilers "
                + "/".join(f"{x:.2f}" for x in self.pass_jit) + " s), "
                f"query p50 {_median(lat):.1f} ms (n={len(lat)})")

    def per_layer(self, modules) -> tuple[dict[str, float], dict[str, int]]:
        """Fold spans, counters and the event log into the per-layer metrics
        and the number of samples behind each.

        Query-path metrics are medians over timed operations; engine metrics
        are means per timed operation; ``ops.*`` are seconds per timed pass
        of each operator module in ``modules``; load metrics are medians
        over the loads of the run.
        """
        tr = self.tracer
        timed = self.timed()
        timed_ids = {o["id"] for o in timed}
        values: dict[str, float] = {}
        samples: dict[str, int] = {}

        def put(name: str, xs, fold=_median) -> None:
            xs = list(xs)
            values[name], samples[name] = (fold(xs) if xs else 0.0), len(xs)

        put("session.start_s", [self.session_start_s])
        for key in ("session.cpus_effective", "session.shuffle_partitions", "rest.pages",
                    "rest.records", "etl.records_per_s", "warehouse.files",
                    "warehouse.bytes", "warehouse.bytes_written_per_batch",
                    "warehouse.bytes_per_record"):
            put(key, self.layer[key])
        put("rest.fetch_s", tr.durations("rest.fetch"))
        put("app.collect_s", tr.durations("app.collect"))
        put("etl.transform_plan_s", tr.durations("etl.transform_plan"))
        put("app.insert_s", tr.durations("app.insert"))
        put("app.register_views_ms", (d * 1e3 for d in tr.durations("app.register_views", timed_ids)))
        put("app.execute_ms", (d * 1e3 for d in tr.durations("app.execute", timed_ids)))
        put("app.sql_analyze_ms", (d * 1e3 for d in tr.self_times("app.query", timed_ids)))
        put("app.result_rows", (o["rows"] for o in timed if not o["module"]))
        n_pass = max(len(self.passes), 1)
        for m in modules:
            ids = {o["id"] for o in timed if o["module"] == m}
            for kind in ("build", "exec"):
                values[f"ops.{kind}_s.{m}"] = sum(tr.durations(f"ops.{kind}", ids)) / n_pass
                samples[f"ops.{kind}_s.{m}"] = len(self.passes) if ids else 0
        put("catalog.artifact_builds", [len(tr.durations("catalog.artifact_build", timed_ids))])
        samples["catalog.artifact_builds"] = len(timed)
        engine = fold_event_log(read_events(self.path("eventlog")),
                                {o["id"]: (o["start"], o["end"]) for o in timed})
        for m in ENGINE_METRICS:
            vals = [engine.get(o["id"], {}).get(m, 0.0) for o in timed]
            put(m, vals, max if m == "spark.peak_exec_mem_bytes" else statistics.fmean)
        python_mb, jvm_mb = (kb / 1024.0 for kb in self.rss_kb)
        put("mem.python_rss_mb", [python_mb])
        put("mem.jvm_rss_mb", [jvm_mb])
        put("mem.peak_rss_mb", [python_mb + jvm_mb])
        put("trace.query_p50_ms", (o["seconds"] * 1e3 for o in timed))
        put("trace.pass_s", self.passes)
        put("trace.pass_cpu_s", self.pass_cpu)
        put("jvm.jit_cpu_s", self.pass_jit)
        put("trace.spans", [len(tr.spans)])
        return values, samples
