"""Shared plumbing for the perfbench workloads.

Everything a run writes goes under ``<checkout>/.bench_work``: the
index, generated tables, Spark scratch and event logs, the JVM's temp
dir and the trace file. Host sizing comes from the machine: Spark runs
at ``local[nproc]`` and the driver gets an eighth of RAM (1-4 GiB).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"


class BenchError(RuntimeError):
    """The benchmark cannot run here (missing program, bad arguments)."""


def require_program() -> None:
    """Fail fast when the checkout holds only the benchmark files."""
    if not (ROOT / "addok_spark" / "__init__.py").is_file():
        raise BenchError(f"program package addok_spark not found under {ROOT}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def host_cores() -> int:
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:  # pragma: no cover - non-Linux
        return max(1, os.cpu_count() or 1)


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 8 << 30  # pragma: no cover


def driver_memory() -> str:
    mb = host_ram_bytes() // 8 // (1 << 20)
    return f"{max(1024, min(4096, mb))}m"


def run_dir(workload: str, seed: int) -> Path:
    """Fresh per-run scratch dir; also points TMPDIR inside it so the
    package zip, Arrow spills and Python temp files stay in the checkout."""
    d = WORK / f"{workload}-s{seed}-p{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    (d / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(d / "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return d


def spark_session(work: Path, event_log: bool):
    """``local[nproc]`` session through the program's own builder."""
    from addok_spark.session import build_session

    cores = host_cores()
    tmp = work / "tmp"
    # the launcher lets SPARK_LOCAL_DIRS override spark.local.dir; the
    # launcher JVM never sees spark.driver.extraJavaOptions
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work / 'derby'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        cores=cores,
        shuffle_partitions=cores,
        app_name="perfbench",
        driver_memory=driver_memory(),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM gateway process and wait for it
    (it otherwise outlives ``stop()`` until the interpreter exits)."""
    from pyspark import SparkContext

    spark.sparkContext.setLogLevel("FATAL")
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def engine_config():
    from addok_spark.config import EngineConfig

    return EngineConfig(build_partitions=host_cores(), common_threshold=10_000)


def to_query(params: dict, cfg, qid: str):
    """The ``Query`` the HTTP API builds from these ``/search`` parameters."""
    from addok_spark.http_api import _match_filters
    from addok_spark.query.engine import Query

    return Query(
        qid=qid, q=params["q"], k=10,
        autocomplete=params.get("autocomplete") == "1",
        phrase=params.get("phrase") == "1",
        filters=_match_filters(cfg, {k: [v] for k, v in params.items()}),
    )


def ranking(frame) -> list[tuple]:
    """(conv_id, turn_idx, score) rows of a result frame, in rank order."""
    return [(r.conv_id, int(r.turn_idx), float(r.score))
            for r in frame.sort_values("rank").itertuples()]


def same_ranking(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        a[:2] == b[:2] and math.isclose(a[2], b[2], rel_tol=1e-9, abs_tol=1e-12)
        for a, b in zip(got, want)
    )


# -- statistics ---------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, math.ceil(q / 100.0 * len(xs)) - 1)
    return float(xs[k])


def tail_pct(n: int) -> float:
    """The tail percentile to report for ``n`` samples: p99, or the
    highest percentile with at least ten samples beyond it (p50 at least)."""
    return min(99.0, max(50.0, 100.0 * (1 - 10 / n))) if n else 50.0


# -- index sizes --------------------------------------------------------------

def tree_bytes(path: Path, seen: set | None = None) -> int:
    """Bytes of regular files under ``path``; with ``seen`` (inode
    set), files already counted — hardlinks shared between snapshots —
    are skipped and new inodes are added to it."""
    total = 0
    for p in Path(path).rglob("*"):
        if p.is_file() and not p.is_symlink():
            st = p.stat()
            if seen is not None:
                key = (st.st_dev, st.st_ino)
                if key in seen:
                    continue
                seen.add(key)
            total += st.st_size
    return total


def index_bytes(index_dir: Path) -> int:
    """On-disk bytes of the published index (build staging excluded)."""
    return sum(
        tree_bytes(p) if p.is_dir() else p.stat().st_size
        for p in Path(index_dir).iterdir()
        if not p.name.startswith("_")
    )


def emit(result: dict) -> None:
    """Print the result object as the last line of stdout."""
    sys.stdout.flush()
    print(json.dumps(result, separators=(",", ":")), flush=True)
