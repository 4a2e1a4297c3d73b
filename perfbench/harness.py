"""Run plumbing shared by the workloads: sizing the session from the
machine, starting and stopping it (and every process it spawned), sampling
memory, storage accounting, and the checksum expressions the output checks
use on the Spark and DuckDB sides."""

from __future__ import annotations

import os
import signal
import threading
import time
from dataclasses import dataclass, field

from gen import NUL, SEP

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TS_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_DUCK = "%Y-%m-%d %H:%M:%S"


def process_age_s(pid: int | str = "self") -> float:
    """Seconds since the process started, from /proc (10 ms resolution)."""
    with open(f"/proc/{pid}/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def machine() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    # a fifth of the box, at most 4 GB: the heap is pre-touched at start, and
    # the machine is shared
    heap_mb = max(1024, min(4096, total_mb // 5 // 256 * 256))
    return {"nproc": cpus, "mem_total_mb": total_mb, "driver_mem_mb": heap_mb}


def configure(run_dir: str, box: dict) -> None:
    """Point every scratch location of Spark, the JVM and Python workers into
    ``run_dir`` and size the session through the variables get_spark reads."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(box["nproc"]),
        SPARK_DRIVER_MEM=f"{box['driver_mem_mb']}m",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # no hsperfdata files in the system temp dir either
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def children_of(pid: int) -> list[int]:
    """All live descendants of ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and the
    Python workers it forks), sampled every ``period`` seconds; each sample
    walks /proc, so sampling faster costs the driver measurable time."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(children_of(me)))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def start_session():
    """The program's session, plus the trivial warm-up job that counts
    toward set-up time."""
    from rss_feed_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    start_s = time.perf_counter() - t0
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, start_s


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every process it forked ended."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spawned = children_of(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 — a JVM that ignores stdin EOF
            proc.kill()
            proc.wait(timeout=timeout)
    wait_gone(spawned, timeout)


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        for p in alive:
            try:
                os.waitpid(p, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


@dataclass
class Loop:
    op_s: list = field(default_factory=list)  # untraced operations
    traced_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    peak_rss_mb: float = 0.0

    def count_warm_up(self, ok: bool) -> None:
        """The untimed warm-up operation is checked like the others."""
        self.attempted += 1
        self.failed += 0 if ok else 1


def closed_loop(ctx, op) -> Loop:
    """Run ``op(traced, index) -> (seconds, ok)`` one at a time until
    ``ctx.seconds`` of operation time are measured, with at least one
    untraced operation and, when tracing, one traced operation; traced and
    untraced operations alternate.  An operation that raises counts as
    failed, with the time it took, and ends the loop."""
    loop = Loop()
    measured = 0.0
    with RssSampler() as rss:
        while measured < ctx.seconds or not loop.op_s or (ctx.trace and not loop.traced_s):
            traced = ctx.trace and len(loop.op_s) > len(loop.traced_s)
            index = loop.attempted
            loop.attempted += 1
            ctx.tracer.op = index
            t0 = time.perf_counter()
            try:
                dt, ok = op(traced, index)
            except Exception as e:  # noqa: BLE001 — counted and reported; the state is unknown after it
                dt, ok = time.perf_counter() - t0, None
                ctx.log(f"operation {index} raised: {e!r}")
            (loop.traced_s if traced else loop.op_s).append(dt)
            measured += dt
            if not ok:
                loop.failed += 1
            if ok is None:
                break
    loop.peak_rss_mb = rss.peak
    return loop


# -- storage accounting -----------------------------------------------------


def snapshot(path: str) -> dict[str, tuple[int, int, int]]:
    """Data files under ``path`` → (size, inode, mtime_ns)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                st = os.stat(full)
                out[full] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


@dataclass
class Written:
    bytes: int = 0
    files: int = 0
    partitions: set = field(default_factory=set)


def written(before: dict, after: dict) -> Written:
    """Files that appeared or changed between two snapshots."""
    w = Written()
    for f, sig in after.items():
        if before.get(f) != sig:
            w.bytes += sig[0]
            w.files += 1
            w.partitions.add(os.path.dirname(f))
    return w


def stored_bytes(path: str) -> int:
    return sum(sig[0] for sig in snapshot(path).values())


def scan_files(df) -> int:
    """Files the Parquet scans of ``df``'s executed plan read."""
    files = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            metric = node.metrics().get("numFiles")
            if metric.isDefined():
                files += int(metric.get().value())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return files


# -- checksums ----------------------------------------------------------------


def checksum_df(df, cols: list[str], ts_cols: set[str]):
    """One-row DataFrame (rows, lane0 sum, lane1 sum) over every listed
    column of ``df`` — the same digest as gen.row_digest."""
    from pyspark.sql import functions as F

    parts = [
        F.coalesce(F.date_format(c, TS_SPARK) if c in ts_cols else F.col(c), F.lit(NUL))
        for c in cols
    ]
    h = F.md5(F.concat_ws(SEP, *parts))
    lane = lambda i: F.conv(F.substring(h, i, 8), 16, 10).cast("bigint")  # noqa: E731
    return df.agg(F.count(F.lit(1)), F.sum(lane(1)), F.sum(lane(9)))


def collect_checksum(agg) -> tuple[int, int, int]:
    r = agg.collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def duck_digest_sql(cols: list[str], ts_cols: set[str]) -> str:
    parts = [
        f"coalesce(strftime({c}, '{TS_DUCK}'), chr(30))" if c in ts_cols else f"coalesce({c}, chr(30))"
        for c in cols
    ]
    return f"md5(concat_ws(chr(31), {', '.join(parts)}))"


def duck_checksum(con, source_sql: str, cols: list[str], ts_cols: set[str]) -> tuple[int, int, int]:
    h = duck_digest_sql(cols, ts_cols)
    r = con.execute(
        f"""SELECT count(*),
                   sum(('0x' || substr(h, 1, 8))::BIGINT),
                   sum(('0x' || substr(h, 9, 8))::BIGINT)
            FROM (SELECT {h} AS h FROM {source_sql})"""
    ).fetchone()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def parquet_glob(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"
