"""Process-level plumbing shared by every workload: the work directory,
the Spark session, the /proc RSS sampler, job-group counts from Spark's
status tracker, the host/config record and the correctness helpers.

Nothing here changes how ``wdel_spark`` runs: the session comes from
``wdel_spark.session.get_spark`` with its defaults, except ``cores``,
which is the host's CPU count.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import shutil
import subprocess
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DATA_DIR = Path(__file__).resolve().parent / "data"
WORK_ROOT = ROOT / ".perfbench_work"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import ``wdel_spark`` from the checkout."""
    for sub in ("spark-local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["WDEL_SPARK_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java_opts} -Djava.io.tmpdir={work / 'tmp'}".strip())
    os.environ["PYSPARK_PYTHON"] = os.environ.get(
        "PYSPARK_PYTHON", shutil.which("python3") or "python3")
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")


# ------------------------------------------------------------- session

def start_spark(event_log_dir: Path | None = None):
    """SparkSession with the program's defaults at ``local[nproc]``.

    ``event_log_dir`` turns on Spark's event log (traced runs only)."""
    from wdel_spark.session import get_spark

    extra = None
    if event_log_dir is not None:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark("perfbench", cores=cpu_count(), extra_conf=extra)


def shutdown_jvm() -> None:
    """End the JVM behind the (stopped) session and wait until it, and with
    it every Python worker it forked, has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_descendants()


def reap_descendants(timeout: float = 10.0) -> None:
    """Wait for every process this one started to end; kill stragglers."""
    deadline = time.monotonic() + timeout
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            time.sleep(0.2)
            for pid in kids:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except OSError:
                    pass
            return
        time.sleep(0.1)


# ------------------------------------------------------------- /proc RSS

def _ppid_map() -> dict[int, int]:
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        rest = stat[stat.rfind(b")") + 2:].split()
        if len(rest) > 1 and rest[0] != b"Z":
            out[int(name)] = int(rest[1])
    return out


def descendants(root: int) -> list[int]:
    ppid = _ppid_map()
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    out, stack = [], [root]
    while stack:
        for kid in children.get(stack.pop(), []):
            out.append(kid)
            stack.append(kid)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


_TICK = os.sysconf("SC_CLK_TCK")
# CPU seconds of this process's own threads that are not the program's
# (the RSS sampler), left out of ``cpu_seconds``
_SAMPLER_CPU = [0.0]


def cpu_seconds() -> float:
    """CPU time (user + system) of this process (the driver: Arrow
    conversion, ``toPandas``, driver-side program code) less the RSS
    sampler thread, plus every descendant's own and reaped children's:
    the JVM and the Python workers.  Time the hypervisor gives to other
    guests is not in it, unlike wall time."""
    own = os.times()
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(b")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime..cstime
    return own.user + own.system - _SAMPLER_CPU[0] + total / _TICK


class RssSampler:
    """Samples the summed RSS of every descendant of this process (the JVM
    and the Python workers it forks) and keeps the peak of a window."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            t0 = time.thread_time()
            total = sum(_rss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            _SAMPLER_CPU[0] += time.thread_time() - t0
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak = 0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# ------------------------------------------------------------- job groups

def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, executed stages and tasks that ran under ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks > 0:
            stages += 1
            tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def set_group(spark, group: str, desc: str = "") -> None:
    spark.sparkContext.setJobGroup(group, desc or group)


# ------------------------------------------------------------- record

def host_record(spark) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    # the effective conf, less what differs on every start (ids, times,
    # host and port)
    conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
            if not k.endswith((".id", "Time", ".host", ".port"))}
    return {
        "nproc": cpu_count(),
        "mem_total_mb": round(mem_kb / 1024),
        "python": platform.python_version(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "spark_conf": dict(sorted(conf.items())),
        "git_commit": git_commit(),
        "source_digest": source_digest(),
    }


def source_digest() -> str:
    """sha256 over the ``wdel_spark`` sources: the program version a
    cross-run reference belongs to (the checkout need not be a git
    repository)."""
    h = hashlib.sha256()
    pkg = ROOT / "wdel_spark"
    for path in sorted(pkg.rglob("*.py")):
        h.update(str(path.relative_to(pkg)).encode() + b"\0")
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ------------------------------------------------------------- stats

def tail_percentile(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """Highest percentile with at least ``beyond`` samples above it, and the
    value there (nearest rank).  With fewer than ``2 * beyond`` samples the
    median is the best that can be stated."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan")
    q = max(50.0, 100.0 * (n - beyond) / n) if n >= 2 * beyond else 50.0
    idx = max(0, math.ceil(q / 100.0 * n) - 1)
    return q, s[idx]


# ------------------------------------------------------------- checks

def partition_fingerprint(clusters) -> tuple[int, int]:
    """(cluster count, xor over clusters of hash(min member, size)) of a
    ``(doc_id, span_idx, cluster_id)`` table: label-independent, so two
    runs that group the same mentions agree whatever ids they assign."""
    from pyspark.sql import functions as F

    member = F.struct(F.col("doc_id").cast("string").alias("d"),
                      F.col("span_idx").alias("s"))
    per = clusters.groupBy("cluster_id").agg(
        F.min(member).alias("m"), F.count("*").alias("n"))
    row = per.agg(
        F.count("*").alias("k"),
        F.bit_xor(F.xxhash64("m.d", "m.s", "n")).alias("h")).first()
    return int(row["k"]), int(row["h"] or 0)


def same_block_pairwise_f1(clusters, documents, gold) -> float:
    """Pairwise F1 over every pair of mentions with the same blocking key,
    predicted = same cluster, gold = same ``mention_gold`` entity.

    Counted exactly from the contingency table (no pair enumeration):
    TP = sum C(n, 2) over (key, cluster, gold) cells."""
    from pyspark.sql import functions as F

    from wdel_spark.functions.textnorm import block_key_col, normalize_col

    keys = (
        documents.select("doc_id",
                         F.posexplode("spans").alias("span_idx", "s"))
        .where(F.col("s.kind") == "mention")
        .select("doc_id", "span_idx",
                block_key_col(normalize_col(F.col("s.text"))).alias("bk"))
    )
    m = (clusters.join(gold, ["doc_id", "span_idx"])
         .join(keys, ["doc_id", "span_idx"]))
    pairs = lambda n: F.sum(n * (n - 1) / 2)  # noqa: E731
    m = m.persist()
    try:
        tp = (m.groupBy("bk", "cluster_id", "gold_qid").count()
              .agg(pairs(F.col("count"))).first()[0] or 0)
        pp = (m.groupBy("bk", "cluster_id").count()
              .agg(pairs(F.col("count"))).first()[0] or 0)
        gp = (m.groupBy("bk", "gold_qid").count()
              .agg(pairs(F.col("count"))).first()[0] or 0)
    finally:
        m.unpersist()
    return 1.0 if pp + gp == 0 else 2.0 * tp / (pp + gp)


def _norm_cell(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(v[k])}"
                              for k in sorted(v)) + "}"
    return str(v)


def _norm_column(values) -> list[str]:
    """``_norm_cell`` over a column, with fast paths for plain ints and
    strings (the common case, and most of the cells)."""
    if values.dtype.kind in "iu":
        return [str(v) for v in values.tolist()]
    if values.dtype.kind == "b":
        return ["true" if v else "false" for v in values.tolist()]
    return [_norm_cell(v) for v in values.tolist()]


def frame_hash(df) -> tuple[int, list[str], str]:
    """(rows, sorted columns, sha256 of sorted normalized rows) — the
    comparison ``tools/verify_contract.py`` applies to a query and its oracle
    (floats to 6 significant figures, nulls and nested values spelled
    out)."""
    cols = sorted(df.columns)
    rows = sorted(zip(*(_norm_column(df[c].to_numpy()) for c in cols))) \
        if cols else []
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return len(rows), cols, h.hexdigest()


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True, default=str))
    os.replace(tmp, path)
