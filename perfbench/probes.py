"""Measurement helpers: spans, the SQL status-store walk, the process-tree
RSS sampler and the in-process kernel probes.

Spans are recorded by the benchmark around calls into the program's
public functions; nothing inside ``cvocr_spark`` is instrumented.
"""

from __future__ import annotations

import contextlib
import cProfile
import multiprocessing
import os
import pstats
import re
import statistics
import threading
import time

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (name, parent, start, end), written out at the end
    of the run.  ``enabled=False`` records nothing, so the untraced path
    pays only a context-manager call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"name": name, "parent": parent,
                 "start_s": t0 - self._t0, "end_s": t1 - self._t0}
            )


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


# --------------------------------------------------------------------------
# SQL status store (works with spark.ui.enabled=false)
# --------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# (metric name, node-name prefix or None, how to combine over nodes)
SQL_METRICS = {
    "sql.scan_time_ms": ("scan time", "Scan", "sum"),
    "sql.files_read": ("number of files read", "Scan", "sum"),
    "sql.shuffle_bytes_written": ("shuffle bytes written", None, "sum"),
    "sql.spill_bytes": ("spill size", None, "sum"),
    "sql.peak_memory_bytes": ("peak memory", None, "max"),
    "sql.codegen_duration_ms": ("duration", "WholeStageCodegen", "sum"),
    "sql.python_bytes_in": ("data sent to Python workers", None, "sum"),
    "sql.python_bytes_out": ("data returned from Python workers", None, "sum"),
}


def parse_metric(text: str, metric_type: str) -> float:
    """Parse one formatted SQL metric value.  Multi-task metrics read
    'total (min, med, max ...)\\n<total> (...)'; the total is used."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if m is None:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type == "size":
        return num * _SIZE_UNITS.get(unit, 1)
    if metric_type in ("timing", "nsTiming"):
        return num * _TIME_UNITS.get(unit, 1.0)
    return num


class SqlStatus:
    """Reads executed-plan metrics of every SQL execution started after a
    ``mark()``, including those a library call starts internally."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _executions(self):
        lst = self._store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def mark(self) -> int:
        ids = [e.executionId() for e in self._executions()]
        return max(ids) if ids else -1

    def since(self, mark: int, timeout_s: float = 10.0) -> tuple[int, dict]:
        """(number of executions, summed metrics) for executions with an
        id above ``mark``.  The listener is asynchronous, so wait until
        every execution has its completion recorded."""
        deadline = time.monotonic() + timeout_s
        while True:
            execs = [e for e in self._executions() if e.executionId() > mark]
            if all(e.completionTime().isDefined() for e in execs):
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        out = {k: 0.0 for k in SQL_METRICS}
        for e in execs:
            eid = e.executionId()
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    for key, (mname, prefix, how) in SQL_METRICS.items():
                        if m.name() != mname:
                            continue
                        if prefix is not None and not node.name().startswith(prefix):
                            continue
                        v = values.get(m.accumulatorId())
                        if not v.isDefined():
                            continue
                        x = parse_metric(v.get(), m.metricType())
                        out[key] = max(out[key], x) if how == "max" else out[key] + x
        return len(execs), out


# --------------------------------------------------------------------------
# process-tree RSS
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(root: int) -> list[int]:
    children, out, todo = _children(), [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _tree_rss_bytes(root: int, page: int) -> dict[str, int]:
    """Summed RSS of ``root`` and its descendants, by process kind
    (``self``, ``java``, ``python``, ``other``).

    A child of the JVM still running the JVM's binary is a process the
    JVM is spawning (Hadoop's local file system runs ``chmod`` and the
    like) caught before its exec: it shares the JVM's memory, and
    counting it would add the whole JVM once more.  It is skipped."""
    children = _children()
    out = {"self": 0, "java": 0, "python": 0, "other": 0}
    todo = [(root, "", "")]  # (pid, parent's comm, parent's exe)
    while todo:
        pid, parent_comm, parent_exe = todo.pop()
        exe = _exe(pid)
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        if parent_comm == "java" and exe == parent_exe:
            continue
        if pid == root:
            kind = "self"
        elif comm == "java":
            kind = "java"
        elif comm.startswith("python"):
            kind = "python"
        else:
            kind = "other"
        out[kind] += rss
        todo.extend((kid, comm, exe) for kid in children.get(pid, ()))
    return out


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else on our vCPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (driver JVM, Python workers) from /proc every ``interval_s``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        # per process kind, each at its own peak
        self.peak_by_kind: dict[str, int] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            by_kind = _tree_rss_bytes(root, self._page)
            self.peak_bytes = max(self.peak_bytes, sum(by_kind.values()))
            for k, v in by_kind.items():
                self.peak_by_kind[k] = max(self.peak_by_kind.get(k, 0), v)
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# in-process kernel probes
# --------------------------------------------------------------------------

# cProfile function name -> kernel phase.  Cumulative time of each
# phase's entry functions, as a share of extract()'s cumulative time;
# 'assemble' is extract()'s own (self) time: its loops and W7 assembly.
KERNEL_PHASES = {
    "decode": ("decode_html",),
    "parse": ("feed", "close"),
    "split": ("_split_block",),
    "resplit": ("_resplit",),
    "classify": ("_doc_standard_len", "_classify"),
    "relabel": ("_neighbor_relabel", "_run_length_promote"),
    "confidence": ("_assign_confidence",),
    "fuse": ("_fuse", "_absorb_low_conf"),
}
KERNEL_FLAGS = (
    "empty", "pdf_unsupported", "binary_container", "plain_text",
    "truncated", "bad_charset", "decode_fallback", "error",
)


def kernel_latency(htmls: list[bytes]) -> dict:
    from cvocr_spark.kernel import extract

    lat = []
    for h in htmls:
        t0 = time.perf_counter_ns()
        extract(h)
        lat.append((time.perf_counter_ns() - t0) / 1000.0)
    lat.sort()
    q = statistics.quantiles(lat, n=100)
    return {
        "kernel.samples": len(lat),
        "kernel.us_per_doc_p50": q[49],
        "kernel.us_per_doc_p99": q[98],
        "kernel.us_per_doc_max": lat[-1],
    }


def kernel_phases(htmls: list[bytes]) -> dict:
    from cvocr_spark import kernel

    prof = cProfile.Profile()
    prof.enable()
    for h in htmls:
        kernel.extract(h)
    prof.disable()
    st = pstats.Stats(prof).stats  # (file, line, fn) -> (cc, nc, tt, ct, callers)
    total = 0.0
    extract_self = 0.0
    by_fn: dict[str, float] = {}
    for (path, _line, fn), (_cc, _nc, tt, ct, callers) in st.items():
        mod = os.path.basename(path)
        if mod == "kernel.py" and fn == "extract":
            total += ct
            extract_self += tt
            continue
        if mod not in ("kernel.py", "fastparse.py"):
            continue
        # count a function only where extract() or another module's
        # function calls it, so recursion is not double counted
        outer = sum(
            v[3] for (cpath, _cl, cfn), v in callers.items()
            if not (cpath == path and cfn == fn)
        )
        by_fn[fn] = by_fn.get(fn, 0.0) + outer
    out = {}
    for phase, fns in KERNEL_PHASES.items():
        out[f"kernel.phase.{phase}"] = (
            sum(by_fn.get(f, 0.0) for f in fns) / total if total else 0.0
        )
    out["kernel.phase.assemble"] = extract_self / total if total else 0.0
    return out


def _extract_chunk(htmls: list[bytes]) -> int:
    from cvocr_spark.kernel import extract

    for h in htmls:
        extract(h)
    return len(htmls)


def kernel_ceiling(htmls: list[bytes], nproc: int) -> float:
    """Docs/s of the bare kernel on a ``multiprocessing`` pool of
    ``nproc`` spawned workers: the ceiling with no Spark in the way."""
    ctx = multiprocessing.get_context("spawn")
    chunks = [htmls[i : i + 64] for i in range(0, len(htmls), 64)]
    with ctx.Pool(nproc) as pool:
        pool.map(_extract_chunk, chunks[:nproc])  # import + warm each worker
        t0 = time.perf_counter()
        n = sum(pool.map(_extract_chunk, chunks))
        dt = time.perf_counter() - t0
    return n / dt


def flag_counts(flags: list[str]) -> dict:
    out = {f"kernel.flags.{f}": 0 for f in KERNEL_FLAGS}
    for fl in flags:
        if not fl:
            continue
        for part in fl.split(","):
            key = "error" if part.startswith("error:") else part
            if key in KERNEL_FLAGS:
                out[f"kernel.flags.{key}"] += 1
    return out
