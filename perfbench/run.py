"""The repo benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. This launcher sizes the Spark session to the
host (local[nproc], shuffle partitions = nproc, driver heap from RAM),
keeps every file Spark and Python write inside `.perfbench_work/` under
the current directory, runs `perfbench/core.py` in its own process group,
waits for it and for everything it started, and passes its exit code on.
The last line of stdout is the JSON result.
"""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

# a run is stopped after this many seconds (a stuck Spark job would
# otherwise hold the process tree forever)
TIMEOUT_S = 170


def driver_mem() -> str:
    """An eighth of the host's RAM, between 1 and 4 GiB: the heap is one
    part of the tree's footprint (JVM overhead and Python workers add
    about as much again), and the host is shared."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1024, min(4096, kb // 1024 // 8))}m"


def main() -> int:
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isfile(os.path.join(root, "rag_pdf_parser_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (no "
              "rag_pdf_parser_spark/ here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    mem = driver_mem()
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Python workers are started by the JVM, not from the repo root:
        # without this they cannot import the package
        "PYTHONPATH": os.pathsep.join([root, here]),
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'wh')}",
            # a fixed-size heap (-Xms = -Xmx): otherwise the footprint
            # depends on when G1 chose to grow the heap in each run
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}",
            "pyspark-shell"]),
    })
    cmd = [sys.executable, os.path.join(here, "core.py"), *sys.argv[1:],
           "--work", work]
    proc = subprocess.Popen(cmd, env=env, cwd=root, start_new_session=True)
    # a SIGTERM to the launcher must still tear the run's process group down
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s, stopping it",
              file=sys.stderr)
        code = 3
    finally:
        # the JVM and Python workers live in the child's process group;
        # make sure none outlives the run
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        wait_group_gone(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    return code


def wait_group_gone(pgid: int, limit_s: float = 20.0) -> None:
    """Block until no process of group `pgid` is left (or `limit_s`)."""
    deadline = time.monotonic() + limit_s
    while time.monotonic() < deadline:
        alive = False
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[0] is the state; a zombie has already ended
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
