"""Benchmark entry point.

    python3 docbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It makes a per-run directory under
`.docbench/` for the generated inputs, the engine's stores and DOCX
fixture, Spark's local dir, warehouse and tmp; runs the workload in a
child process in its own process group (the child starts the JVM and its
Python workers); stops and waits for every process of that group; and
removes the run directory. The child prints the result as the last line
of standard output.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "etl_ai_assistent_spark")
TIMEOUT_S = 150
# local[CPUS], capped by the cores this process may use. Two, not four on
# a 4-core host: the JIT, GC and Python client threads then have cores of
# their own, and run-to-run spread fell from about 20 % to 10-15 % at the
# same throughput.
CPUS = 2


def _stop_group(child: subprocess.Popen) -> None:
    """SIGTERM, then SIGKILL, the child's process group; return once it is
    empty. When the child has exited, the group first gets time to exit
    by itself: the JVM exits once its Python parent has, and removes its
    local dirs."""
    steps = [(signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)]
    if child.poll() is not None:
        steps.insert(0, (0, 15.0))
    for sig, grace in steps:
        deadline = time.monotonic() + grace
        try:
            os.killpg(child.pid, sig)
            while time.monotonic() < deadline:
                time.sleep(0.1)
                child.poll()  # reap the child: a zombie still counts as a member
                os.killpg(child.pid, 0)
        except ProcessLookupError:
            return
    raise RuntimeError(f"process group {child.pid} survived SIGKILL")


def main(argv: list[str]) -> int:
    if not os.path.isdir(ENGINE):
        print(f"docbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".docbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    env = dict(os.environ)
    for key, sub in (("SPARK_GRAFT_STORE_ROOT", "store"), ("SPARK_LOCAL_DIRS", "local"),
                     ("TMPDIR", "tmp")):
        env[key] = os.path.join(run_dir, sub)
        os.makedirs(env[key])
    env.update(
        # the Spark Python workers import the engine too
        PYTHONPATH=os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(min(CPUS, len(os.sched_getaffinity(0)))),
        SPARK_GRAFT_DRIVER_MEMORY="2g",
        # every JVM, spark-submit's launcher included: temp files in the
        # run, and no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    # a SIGTERM still stops the child's process group and removes the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(
        [sys.executable, "-m", "docbench.harness", *argv, "--run-dir", run_dir],
        cwd=ROOT, env=env, start_new_session=True,
    )
    try:
        code = child.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"docbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        _stop_group(child)
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
