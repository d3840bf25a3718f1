"""Shared run machinery: Spark start, the closed-loop op runner, engine
counts per op, memory and the run record, and the result line.

One process, one SparkSession on ``local[nproc]``, one client thread.
Everything the run writes goes under ``.perfbench/`` in the working
directory (spool, sink, catalog, checkpoints, Spark scratch, spans).
"""

from __future__ import annotations

import glob
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench.tracing import SpanRecorder

WORK_ROOT = ".perfbench"
# The session factory defaults to a 48g driver heap; the benchmark pins a
# heap that fits the machines it runs on, and starts the JVM with the whole
# heap, touched at start (-Xms, AlwaysPreTouch), so peak RSS does not depend
# on when G1 decides to grow the heap or which regions it has touched.
DRIVER_MEMORY = "1g"


@dataclass
class OpResult:
    kind: str
    latency_s: float
    ok: bool
    records: int = 0
    traced: bool = False
    engine: dict = field(default_factory=dict)
    cpu_s: float = 0.0


class Run:
    """State of one benchmark run: arguments, work dir, session, record."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.t_process = time.perf_counter()
        self.work = os.path.abspath(os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}"))
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.nproc = len(os.sched_getaffinity(0))
        self.recorder = SpanRecorder()
        self.spark = None
        self.ops: list[OpResult] = []
        self.verify_attempted = 0
        self.verify_failed = 0
        self.wrong = 0
        self.notes: list[str] = []
        self.get_spark_s = 0.0
        self._steal_start = _steal_s()
        self.setup_parts: dict[str, float] = {}
        self.record = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            "nproc": self.nproc,
            "loadavg_start": os.getloadavg(),
            "python": platform.python_version(),
        }

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ------------------------------------------------------

    def start_spark(self):
        from transit_feed_etl_spark.session import get_spark

        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        scratch = self.path("spark-local")
        os.makedirs(scratch)
        os.environ["TMPDIR"] = scratch
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cpus=self.nproc,
            extra_conf={
                "spark.local.dir": scratch,
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={scratch} "
                    "-XX:-UsePerfData"
                ),
            },
        )
        self.get_spark_s = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self.record["spark"] = self.spark.version
        self.record["java"] = sc._jvm.System.getProperty("java.version")
        self.record["driver_memory"] = sc.getConf().get("spark.driver.memory")
        self.record["master"] = sc.master
        return self.spark

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM to exit (it exits when
        its stdin closes), then remove the work dir."""
        if self.spark is not None:
            gw = self.spark.sparkContext._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            if proc is not None:
                gw.shutdown()
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)

    # -- engine counts --------------------------------------------------

    def jobs_in_group(self, group: str) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def engine_counts(self, job_ids) -> dict:
        st = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None and sinfo.numTasks > 0:
                    stages += 1
                    tasks += sinfo.numTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    # -- the closed loop --------------------------------------------------

    def measure(
        self, next_op, round_len: int = 1, min_rounds: int = 1, traced_op=lambda i: i % 2 == 0,
        settle=None,
    ) -> float:
        """Run ops back to back for ``self.seconds`` and at least
        ``min_rounds`` rounds, then finish the round in progress, so every
        run issues whole rounds of its op mix (a round is ``round_len``
        ops) and, unless the machine is fast, the same number of them.
        ``next_op(i)`` returns
        (kind, fn, group) where ``fn()`` performs the op and returns
        (ok, records); ``group`` is the job group whose jobs the op runs
        (None: the op runs its own jobs under a fresh group on this
        thread). In the traced run, ``traced_op(i)`` picks the traced ops;
        the others give the untraced latency the overhead is measured
        against. ``settle(i, ok, records)``, when given, runs after the
        op's latency is taken and returns the final (ok, records): checks
        that read the program's output go there, outside the op's time.
        Returns the measured wall time."""
        sc = self.spark.sparkContext
        t_start = time.perf_counter()
        deadline = t_start + self.seconds
        i = 0
        while time.perf_counter() < deadline or i % round_len or i < min_rounds * round_len:
            kind, fn, group = next_op(i)
            traced = self.trace and traced_op(i)
            own = group is None
            if own:
                group = f"perfbench-op-{i}"
                sc.setJobGroup(group, f"{self.workload} op {i} {kind}")
            before = self.jobs_in_group(group)
            ok, records, raised = False, 0, False
            cpu0 = tree_cpu_s()
            with self.recorder.op(i, traced) as attrs:
                attrs["kind"] = kind
                t0 = time.perf_counter()
                try:
                    ok, records = fn()
                except Exception:  # noqa: BLE001 - a failed op is counted, never fatal
                    raised = True
                    self.note_failure(f"op {i} {kind}")
                latency = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            if settle is not None and not raised:
                try:
                    ok, records = settle(i, ok, records)
                except Exception:  # noqa: BLE001
                    raised, ok = True, False
                    self.note_failure(f"op {i} {kind} check")
            engine = self.engine_counts(self.jobs_in_group(group) - before)
            if own:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.ops.append(OpResult(kind, latency, ok, records, traced, engine, cpu))
            if not ok and not raised:
                self.wrong += 1
                self.notes.append(f"op {i} {kind}: wrong result")
            i += 1
        return time.perf_counter() - t_start

    def note_failure(self, what: str) -> None:
        """Record the exception being handled: its first line that names
        an exception (a Py4J error carries the whole Java trace)."""
        text = traceback.format_exc()
        lines = [ln.strip() for ln in text.splitlines() if re.search(r"\w(Exception|Error)\b", ln)]
        self.notes.append(f"{what}: {(lines[-1] if lines else text.strip()[-200:])[:300]}")

    def verify(self, what: str, check) -> bool:
        """One verification op: counted as attempted, and as failed when
        it raises or returns False (a wrong result). Never aborts the run."""
        self.verify_attempted += 1
        try:
            ok = bool(check())
        except Exception:  # noqa: BLE001
            self.note_failure(f"verify {what}")
            self.verify_failed += 1
            return False
        if not ok:
            self.verify_failed += 1
            self.wrong += 1
            self.notes.append(f"verify {what}: wrong result")
        return ok

    # -- result -------------------------------------------------------------

    def peak_rss_mb(self) -> tuple[float, float]:
        """VmHWM of this Python process and of the driver JVM, in MB."""
        gw = getattr(self.spark.sparkContext, "_gateway", None) if self.spark else None
        proc = getattr(gw, "proc", None)
        return _vm_hwm_mb(os.getpid()), (_vm_hwm_mb(proc.pid) if proc is not None else 0.0)

    def finish(self, setup_s: float, wall_s: float, records: int, per_layer: dict) -> dict:
        """Assemble the result line: end-to-end metrics with --trace 0,
        per-layer metrics with --trace 1. `correct` is False when any op or
        check returned a wrong result; ops that raised count as failed.

        Op timings (latency, throughput, CPU per op) are per-layer
        metrics, not end-to-end ones: on the shared machines this runs on
        they move by more than any bound the benchmark may set between
        runs of the same code (see NOTES.md). They are printed on every
        run and kept in the run record. Latencies come from untraced ops
        only (all ops when the run is untraced)."""
        attempted = len(self.ops) + self.verify_attempted
        failed = sum(not o.ok for o in self.ops) + self.verify_failed
        py_mb, jvm_mb = self.peak_rss_mb()
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_ok_ratio": (1.0 - failed / attempted, "ratio"),
            "peak_rss_mb": (py_mb + jvm_mb, "MB"),
        }
        lat = sorted(o.latency_s for o in self.ops if not o.traced)
        pct, tail = tail_latency(lat)
        timings = {
            "latency.p50_s": (statistics.median(lat), "s"),
            "latency.tail_s": (tail, "s"),
            "run.ops_per_s": (len(self.ops) / wall_s, "1/s"),
            "run.records_per_s": (records / wall_s, "1/s"),
            "run.cpu_s_per_op": (statistics.median(o.cpu_s for o in self.ops), "s"),
        }
        self.record.update({
            "loadavg_end": os.getloadavg(),
            "cpu_steal_s": _steal_s() - self._steal_start,
            "ops": len(self.ops),
            "latency_tail_percentile": pct,
            "latency_tail_samples": len(lat),
            "timings": {k: {"value": v, "unit": u} for k, (v, u) in timings.items()},
            "op_latencies_s": [(o.kind, round(o.latency_s, 4)) for o in self.ops],
            "op_cpu_s": [round(o.cpu_s, 2) for o in self.ops],
            "op_engine": [[o.engine.get(k, 0) for k in ("jobs", "stages", "tasks")]
                          for o in self.ops],
            "run_wall_s": wall_s,
            "ops_failed_ratio": failed / attempted,
            "peak_rss_mb_python_jvm": (py_mb, jvm_mb),
            "setup_parts_s": self.setup_parts,
            "notes": self.notes,
        })
        metrics = {**per_layer, **timings} if self.trace else e2e
        return {
            "correct": self.wrong == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and all its
    descendants (the driver JVM and Spark's Python workers), including
    children they have reaped, from /proc."""
    parent: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me, ticks = os.getpid(), 0
    for pid, c in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            ticks += c
    return ticks / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tail_latency(sorted_lat: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it:
    the 11th-largest sample, at percentile 100*(n-10)/n. With 20 samples
    or fewer that percentile is at or below the median (or does not
    exist), so the maximum is reported instead."""
    n = len(sorted_lat)
    if n <= 20:
        return 100.0, sorted_lat[-1]
    return 100.0 * (n - 10) / n, sorted_lat[n - 11]


def parquet_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def median_of(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def print_human(result: dict, record: dict) -> None:
    for name, m in sorted(result["metrics"].items()):
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
    for name, m in sorted(record["timings"].items()):
        if name not in result["metrics"]:
            print(f"{name:40s} {m['value']:.6g} {m['unit']} (op timing, per-layer)")
    print(f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
    print("run_record " + json.dumps(record, default=str))
    sys.stdout.flush()
