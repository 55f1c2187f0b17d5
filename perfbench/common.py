"""Shared run context: Spark session, closed-loop operation log, process
tree CPU/RSS accounting and the result record every workload fills in."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
CLK = os.sysconf("SC_CLK_TCK")


def remove_tree(path: str) -> None:
    """shutil.rmtree with the files unlinked from 8 threads: on a disk
    mounted with online discard each unlink waits on the device, and
    table directories hold hundreds of small files."""
    def unlink(f: str) -> None:
        try:
            os.unlink(f)
        except OSError:
            pass

    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    with ThreadPoolExecutor(8) as pool:
        list(pool.map(unlink, files))
    shutil.rmtree(path, ignore_errors=True)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def heap_size() -> str:
    """A quarter of physical memory, capped at the engine's 8g default:
    the JVM shares the host with the Python workers and the page cache
    that holds the table files."""
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    return f"{max(1, min(8, total_kib // (4 * 1024 * 1024)))}g"


def _proc_table() -> dict[int, tuple[int, str, str, float, int]]:
    """pid -> (ppid, state, comm, cpu seconds incl. reaped children,
    VmHWM KiB)."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
            with open(f"/proc/{pid}/status") as f:
                hwm = next((int(ln.split()[1]) for ln in f
                            if ln.startswith("VmHWM:")), 0)
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        p = raw.rsplit(")", 1)[1].split()
        # post-comm fields: [0]=state, [1]=ppid,
        # [11..14]=utime,stime,cutime,cstime
        cpu = sum(int(x) for x in p[11:15]) / CLK
        out[int(pid)] = (int(p[1]), p[0], comm, cpu, hwm)
    return out


def _tree(table: dict) -> list[int]:
    """This process and every process below it."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_usage() -> dict[str, float]:
    """CPU seconds of this process tree split into JVM and Python, plus the
    summed peak RSS (MiB) of the live tree since the last reset_peaks(). A
    process's CPU includes the children it has reaped, so exited Python
    workers still count."""
    table = _proc_table()
    jvm = py = hwm = 0.0
    for pid in _tree(table):
        _ppid, _state, comm, cpu, h = table[pid]
        if comm == "java":
            jvm += cpu
        else:
            py += cpu
        hwm += h
    return {"jvm_s": jvm, "python_s": py, "cpu_s": jvm + py,
            "rss_mb": hwm / 1024.0}


def host_steal() -> tuple[float, float]:
    """(steal seconds, total seconds) summed over all host CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] / CLK if len(vals) > 7 else 0.0, sum(vals) / CLK


def reset_peaks() -> None:
    """Set the peak RSS (VmHWM) of every process in this tree back to its
    current RSS, so a later reading covers only what ran in between."""
    for pid in _tree(_proc_table()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


class Run:
    """One benchmark run: the operation log of the closed loop and the
    metrics reported at the end. Every engine call the loop makes goes
    through :meth:`op`, which times it, tags its Spark jobs with a job
    group and records a failure instead of raising."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 tracer) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.dir = os.path.join(WORK, workload)
        # (kind, wall seconds, ok, process-tree CPU seconds)
        self.ops: list[tuple[str, float, bool, float]] = []
        self.checks: dict[str, bool] = {}
        self.check_s = 0.0
        self.report: dict[str, tuple[float, str]] = {}
        self.setup_s = 0.0
        self.notes: dict[str, object] = {}
        self.spark = None
        self.t_loop0 = self.t_loop1 = 0.0

    # -- session ---------------------------------------------------------
    def start_spark(self) -> None:
        """Start the session; its time is the first part of setup_s."""
        from skipmap_processor_spark.session import get_spark

        remove_tree(self.dir)
        os.makedirs(self.dir)
        # Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p])
        # temporary files (gateway handshake, native libraries the JVM
        # unpacks) stay inside the checkout too
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData"]))
        # the environment variable would override spark.local.dir
        os.environ.pop("SPARK_LOCAL_DIRS", None)
        conf = {
            "spark.local.dir": os.path.join(self.dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        conf.update(self.tracer.spark_conf(self.dir))
        t0 = time.monotonic()
        self.spark = get_spark(master=f"local[{host_cpus()}]",
                               app_name=f"perfbench-{self.workload}",
                               driver_memory=heap_size(), extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.group("setup")
        self.spark.range(1).collect()
        self.setup_s += time.monotonic() - t0
        self.notes["session_start_s"] = round(self.setup_s, 3)

    def session_conf(self) -> dict[str, str]:
        keep = ("spark.master", "spark.driver.memory",
                "spark.sql.shuffle.partitions", "spark.default.parallelism",
                "spark.sql.files.maxPartitionBytes",
                "spark.driver.extraJavaOptions",
                "spark.sql.adaptive.enabled",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "spark.eventLog.enabled")
        conf = dict(self.spark.sparkContext.getConf().getAll())
        return {k: conf[k] for k in keep if k in conf}

    def stop_spark(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait until
        every process this run started has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        procs = [p for p in _tree(_proc_table()) if p != os.getpid()]
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            # the JVM exits when its stdin closes
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while procs and time.monotonic() < deadline:
            table = _proc_table()
            procs = [p for p in procs if p in table and table[p][1] != "Z"]
            time.sleep(0.05)

    def cleanup(self) -> None:
        """Remove the run's tables and inputs. The event log stays, and so
        do the directories Spark itself uses until it has stopped; the next
        run clears them."""
        for name in os.listdir(self.dir):
            if name not in ("eventlog", "spark-local", "tmp"):
                remove_tree(os.path.join(self.dir, name))

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    # -- setup -----------------------------------------------------------
    def setup(self, name: str, rep, once=None, reps: int = 3):
        """Set up one part of the workload. ``rep(dir)`` is one set-up pass
        (inputs and tables, all under ``dir``, which is
        ``<run dir>/<name>-setup<i>``) and runs ``reps`` times; then
        ``once(result)`` runs a single time (warm-up, consumers of the
        table) and may keep throwaway files under ``<run dir>/<name>-*``.
        The part adds its median pass plus ``once`` to setup_s. The last
        pass's result is what the timed loop uses."""
        self.group("setup")
        dirs = [os.path.join(self.dir, f"{name}-setup{i}")
                for i in range(reps)]
        times, out = [], None
        for d in dirs:
            t0 = time.monotonic()
            out = rep(d)
            times.append(time.monotonic() - t0)
        once_s = 0.0
        if once is not None:
            t0 = time.monotonic()
            out = once(out)
            once_s = time.monotonic() - t0
        # earlier passes' files go now, while still in the page cache:
        # deleting blocks already written back is slow on a disk mounted
        # with online discard
        for entry in os.listdir(self.dir):
            path = os.path.join(self.dir, entry)
            if entry.startswith(f"{name}-") and path != dirs[-1]:
                remove_tree(path)
        self.setup_s += statistics.median(times) + once_s
        self.notes.setdefault("setup_parts", {})[name] = {
            "passes_s": [round(t, 3) for t in times],
            "once_s": round(once_s, 3)}
        return out

    # -- timed loop ------------------------------------------------------
    def begin_loop(self) -> None:
        reset_peaks()
        self.usage0 = tree_usage()
        self.steal0 = host_steal()
        self.t_loop0 = time.monotonic()

    def end_loop(self) -> None:
        """Close the timed loop; its peak RSS is read here, before any
        output check runs."""
        self.t_loop1 = time.monotonic()
        self.usage1 = tree_usage()
        self.steal1 = host_steal()

    def op(self, kind: str, group: str, fn, *args, label: str | None = None,
           **kw):
        """Run one closed-loop operation; ``label`` names its span (default
        ``kind``). Returns (ok, result, seconds)."""
        self.group(group)
        cpu0 = tree_usage()["cpu_s"]
        t0 = time.monotonic()
        ok, res = True, None
        with self.tracer.span(label or kind, group):
            try:
                res = fn(*args, **kw)
            except Exception:  # an operation failure is a measured outcome
                ok = False
                traceback.print_exc(file=sys.stderr)
        dt = time.monotonic() - t0
        self.ops.append((kind, dt, ok, tree_usage()["cpu_s"] - cpu0))
        return ok, res, dt

    def _of(self, kinds: tuple[str, ...]):
        """Ops of these kinds; kind ``apply`` also takes ``apply.mor``."""
        return [op for op in self.ops if op[0] in kinds
                or op[0].split(".")[0] in kinds]

    def op_times(self, *kinds: str) -> list[float]:
        """Wall times of every attempt of these kinds, failed ones too."""
        return [dt for _k, dt, _ok, _cpu in self._of(kinds)]

    def op_cpu_sum(self, *kinds: str) -> float:
        return sum(cpu for *_rest, cpu in self._of(kinds))

    def check(self, name: str, fn) -> bool:
        """Run one output check (untimed); an exception fails it."""
        self.group("check")
        t0 = time.monotonic()
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.check_s += time.monotonic() - t0
        self.checks[name] = ok
        if not ok:
            print(f"check failed: {name}", file=sys.stderr)
        return ok

    # -- results ---------------------------------------------------------
    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (float(value), unit)

    def finish_common(self) -> None:
        """Metrics every workload reports, from the op log and usage."""
        wall = self.t_loop1 - self.t_loop0
        cpu = self.usage1["cpu_s"] - self.usage0["cpu_s"]
        n_ops = len(self.ops)
        n_failed = sum(1 for _k, _dt, ok, _cpu in self.ops if not ok)
        n_failed += sum(1 for ok in self.checks.values() if not ok)
        self.attempted, self.failed = n_ops, min(n_failed, max(n_ops, 1))
        self.put("setup_s", self.setup_s, "s")
        self.put("ops_per_s", n_ops / wall, "1/s")
        self.put("failed_op_share", self.failed / max(n_ops, 1), "ratio")
        self.put("peak_rss_mb", self.usage1["rss_mb"], "MiB")
        steal = self.steal1[0] - self.steal0[0]
        total = self.steal1[1] - self.steal0[1]
        self.notes.update({
            "ops": n_ops, "loop_wall_s": round(wall, 3),
            "loop_cpu_s": round(cpu, 3),
            "loop_jvm_cpu_s": round(self.usage1["jvm_s"]
                                    - self.usage0["jvm_s"], 3),
            "loop_python_cpu_s": round(self.usage1["python_s"]
                                       - self.usage0["python_s"], 3),
            "host_steal_share": round(steal / max(total, 1e-9), 4),
            "checks": self.checks, "check_s": round(self.check_s, 3),
        })
