"""Shared plumbing for the perfbench workloads: the run context (work dirs,
Spark session, host facts), timing helpers, peak RSS, and the oracle check.

Everything a run writes lives under ``.perfbench_work/`` (scratch, wiped per
run) and ``.perfbench_out/`` (one JSON record per run) in the directory the
benchmark is started from.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return os.getloadavg()[0]


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: the share of CPU time the
    hypervisor gave to other guests shows contention a load average hides."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile_supported(xs, q: float, min_beyond: int = 10):
    """Nearest-rank q-quantile of ``xs``, or None when fewer than
    ``min_beyond`` samples rank above it — a percentile resting on a handful
    of samples is not reported."""
    xs = sorted(xs)
    rank = max(math.ceil(q * len(xs)), 1)
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def source_digest() -> str:
    """sha256 over the engine's sources — identifies the program under test
    even where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "tiflow_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(files):
            if fn.endswith(".py"):
                fp = os.path.join(dirpath, fn)
                h.update(os.path.relpath(fp, pkg).encode())
                with open(fp, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set of a live process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclass
class Context:
    """One benchmark run: arguments, directories, session and findings."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    t_process: float  # perf_counter() at process start
    work: str = ""
    spark: object = None
    cores: int = 0
    tracer: object = None
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    ok: int = 0
    checks: list = field(default_factory=list)
    # per-mark freshness samples of the timed window, ms
    freshness_ms: list = field(default_factory=list)
    # root layers that make up one operation in the traced run
    layer_roots: set = field(default_factory=set)
    # roots of the extra MQ leg whose mq.* layers the traced run reports
    mq_roots: set = field(default_factory=set)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, *parts) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})
        return bool(ok)


def start_session(ctx: Context) -> None:
    """local[nproc] session. Scratch and JVM temp files stay inside the
    work dir; the status store keeps every job of the run so the traced
    run can read per-stage metrics afterwards."""
    from tiflow_spark.session import get_spark

    local = ctx.path("spark-local")
    tmp = ctx.path("tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Python workers (mapInPandas decoders) import the engine package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    ctx.cores = nproc()
    t0 = time.perf_counter()
    ctx.spark = get_spark(
        app=f"perfbench-{ctx.workload}",
        cpus=ctx.cores,
        shuffle_partitions=ctx.cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    ctx.layers["session.start_s"] = time.perf_counter() - t0


def stop_session(ctx: Context) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    gateway = ctx.spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    ctx.spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(ctx: Context) -> float:
    """Peak RSS of this driver process plus its JVM."""
    jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb() + vm_hwm_mb(jvm_pid)


def newest_manifest_bytes(table_paths) -> float:
    """Size of the newest manifest file, the largest over the tables."""
    out = 0
    for p in table_paths:
        mdir = os.path.join(p, "_manifests")
        names = sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []
        if names:
            out = max(out, os.path.getsize(os.path.join(mdir, names[-1])))
    return float(out)


# ------------------------------------------------------------------ oracle
def normalize(pdf):
    """Canonical form for comparison: key-sorted, nulls as None, timestamps
    as second-resolution ISO strings."""
    import pandas as pd

    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].dt.strftime("%Y-%m-%dT%H:%M:%S")
    out = out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return out.astype(object).where(pd.notnull(out), None)


def frames_equal(actual, expected) -> tuple[bool, str]:
    """Compare a result frame with an oracle frame already ``normalize``d
    (one oracle is compared with many results)."""
    import pandas as pd

    a, e = normalize(actual), expected
    if list(a.columns) != list(e.columns):
        return False, f"columns {list(a.columns)} != {list(e.columns)}"
    if len(a) != len(e):
        return False, f"rows {len(a)} != {len(e)}"
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False)
    except AssertionError as exc:
        return False, str(exc).splitlines()[0][:200]
    return True, ""


def table_digest(df) -> tuple:
    """(rows, order-independent content digest) of a DataFrame: the sum of
    a 64-bit hash of each row's canonical JSON (nulls kept), in decimal so
    it cannot overflow. Results whose digest equals one already compared
    row by row with the oracle need no second comparison."""
    from pyspark.sql import functions as F

    row_hash = F.xxhash64(F.to_json(F.struct(*df.columns),
                                    {"ignoreNullFields": "false"}))
    r = df.agg(F.count(F.lit(1)), F.sum(row_hash.cast("decimal(38,0)"))).first()
    return r[0], r[1]


def write_record(ctx: Context, result: dict) -> str:
    """Full run record (host facts, metrics, samples, checks) as JSON."""
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    fp = os.path.join(
        out_dir, f"{ctx.workload}-seed{ctx.seed}-trace{int(ctx.trace)}.json"
    )
    with open(fp, "w") as f:
        json.dump({**result, "info": ctx.info, "checks": ctx.checks}, f,
                  indent=1, default=str)
    return fp
