"""Benchmark entry point: one workload run in a fresh process.

    python3 perfbench/run.py --workload docs_snapshot --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Makes a run-private directory in the
checkout, starts perfbench/worker.py in its own process group with the
environment fixed below, forwards its report, stops every process the
run started, removes the directory and exits with the worker's code.
The last line of stdout is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"
TIMEOUT_S = 170


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(b")") + 2 :].split()
        if fields[0] != b"Z" and int(fields[2]) == pgid:
            return True
    return False


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """SIGTERM, then SIGKILL, the whole process group; wait until it is gone."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, help="a name from worker.WORKLOADS")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    root = os.getcwd()
    for need in ("scones/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}; run from a checkout root",
                  file=sys.stderr)
            return 2

    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=root)
    env = dict(os.environ)
    for k in ("SCONES_VECTORIZED_FRAMING", "SCONES_SPLITS_PER_CORE", "SCONES_JAVA_OPTS"):
        env.pop(k, None)
    # keep every temporary file of the JVMs and Python processes in the run
    # directory; -XX:-UsePerfData stops the JVM's /tmp/hsperfdata file
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.update(
        PYTHONPATH=root,  # the JVM's Python workers import scones from here
        SCONES_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"{env.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip(),
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--root", root, "--tmp", tmp,
    ]
    log_path = os.path.join(tmp, "worker.log")
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                                    stderr=log, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
                code = proc.returncode
            except subprocess.TimeoutExpired:
                stop_group(proc.pid, grace_s=2.0)
                out, _ = proc.communicate()
                code = 124
            stop_group(proc.pid)
        lines = out.decode(errors="replace").splitlines()
        result = None
        if code == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if result is None:
            with open(log_path, "rb") as fh:
                tail = fh.read()[-4000:].decode(errors="replace")
            report = "\n".join(lines[-20:])
            print(f"perfbench: worker exited with {code} and no result\n{report}\n{tail}",
                  file=sys.stderr)
            return code or 1
        print("\n".join(lines[:-1]))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
