"""Process-level plumbing: a host-sized warmed Spark session, the peak
RSS sampler, Spark status-store totals and on-disk byte counts."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

#: JVM heap, committed and pre-touched at JVM start so no measured
#: window pays heap growth; sized for a 15 GB host shared with others
HEAP = "2g"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    """local[nproc] with the JVM's own thread pools capped at nproc.
    Shuffle/spill and temporary files of both the JVM and this process
    go under ``work`` (one per run: a JVM deletes a local dir it created
    at exit, so two runs must never share one)."""
    import tempfile

    from etl_kafka_project_spark.session import build_session

    n = host_cores()
    local_dir, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the spark-submit launcher JVM that builds Spark's JVM command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = build_session(
        f"local[{n}]",
        app_name="perfbench",
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -Xms{HEAP} -XX:+AlwaysPreTouch"
                f" -XX:ActiveProcessorCount={n} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": local_dir,
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to end. Left alone, the JVM exits
    only after this process has, when it sees its stdin close."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the JVM's signal to exit
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def become_subreaper() -> None:
    """Have orphaned descendants (the JVM's Python workers, once the JVM
    has gone) re-parented to this process, so ``reap_descendants`` finds
    and waits for them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants(grace_s: float = 20.0) -> None:
    """Wait until every process this one started, directly or not, has
    ended: SIGTERM to the rest after ``grace_s``, SIGKILL 5 s later."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sent = None
    while True:
        while True:  # collect every child that has already ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = [p for p in _descendants(me, _proc_table()) if p != me]
        if not left:
            return
        now = time.monotonic()
        sig = (signal.SIGKILL if now > deadline + 5 else
               signal.SIGTERM if now > deadline else None)
        if sig is not None and sig != sent:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.02)


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, executable, resident bytes) of every process."""
    procs = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            # exe first: a fork that execs between the two reads then
            # shows its new, small RSS rather than its parent's
            try:
                exe = os.readlink(f"/proc/{name}/exe")
            except OSError:
                exe = ""  # a zombie has no executable
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the ")" that ends comm: state ppid ... rss is field 24
        procs[int(name)] = (int(fields[1]), exe, int(fields[21]) * page)
    return procs


def _descendants(root_pid: int, procs) -> list[int]:
    """``root_pid`` and every process below it."""
    out, frontier = [], [root_pid]
    while frontier:
        p = frontier.pop()
        out.append(p)
        frontier += [c for c, (pp, _, _) in procs.items() if pp == p]
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants (the
    Spark JVM and its Python workers). A child that runs its parent's
    executable with at least 90% of its parent's RSS is a fork that has
    not diverged yet (the JVM forks before exec'ing a shell command): it
    shares its parent's pages, so they are not counted twice."""
    procs = _proc_table()
    total = 0
    for p in _descendants(root_pid, procs):
        ppid, exe, rss = procs.get(p, (0, "", 0))
        parent = procs.get(ppid)
        if p == root_pid or not (parent and exe == parent[1] and rss >= 0.9 * parent[2]):
            total += rss
    return total


class PeakRss:
    """Samples this process tree's RSS on a daemon thread."""

    def __init__(self, every_s: float = 0.25):
        self.peak = 0
        self._every = every_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self._every)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def mb(self) -> float:
        return self.peak / 2**20


STAGE_FIELDS = {
    "executor_run_ms": lambda s: s.executorRunTime(),
    "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "jvm_gc_ms": lambda s: s.jvmGcTime(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spill_bytes": lambda s: s.diskBytesSpilled() + s.memoryBytesSpilled(),
    "input_bytes": lambda s: s.inputBytes(),
    "output_bytes": lambda s: s.outputBytes(),
}


def _stages(spark):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def last_stage_id(spark) -> int:
    return max((s.stageId() for s in _stages(spark)), default=-1)


def stage_totals(spark, after_stage_id: int) -> dict[str, float]:
    """Task metrics summed over the stages submitted after
    ``after_stage_id`` (the status store works with the UI off; the
    listener bus is asynchronous, so wait briefly for it to drain)."""
    time.sleep(0.5)
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    for s in _stages(spark):
        if s.stageId() > after_stage_id:
            for k, f in STAGE_FIELDS.items():
                out[k] += float(f(s))
    return out


def tree_bytes(root: str) -> int:
    """Bytes under ``root``, each inode once (changelog entries are
    hardlinks to delta files)."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for d, _, files in os.walk(root):
        for fn in files:
            st = os.lstat(os.path.join(d, fn))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total
