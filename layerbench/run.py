#!/usr/bin/env python3
"""Run one layerbench workload and print its result as the last stdout line.

    python3 layerbench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source when needed (build.py),
then runs the workload in one JVM with a scratch root of its own, which
it deletes on exit. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # write nothing beside the sources
import build  # noqa: E402

WORKLOADS = ("live_tail", "record_analyze", "index_lifecycle")
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap() -> str:
    """Half of MemTotal in GiB, clamped to 2..8, as the repo's tier-1 tests size it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def scratch_base() -> Path:
    """GRAFT_SCRATCH_DIR when set, which must then be a writable dir (the
    program's own fallback to another dir would be silent); else a dir in
    the checkout."""
    env = os.environ.get("GRAFT_SCRATCH_DIR")
    if env is not None:
        p = Path(env)
        if not p.is_dir() or not os.access(p, os.W_OK | os.X_OK):
            raise SystemExit(f"layerbench: GRAFT_SCRATCH_DIR={env!r} is not a writable directory")
        return p
    p = build.ROOT / ".bench_scratch"
    p.mkdir(exist_ok=True)
    return p


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    ap.add_argument("--inject", default="none",
                    choices=("none", "drop_sample", "corrupt_value", "skip_delete"))
    a = ap.parse_args()

    classpath, key = build.build()
    base = scratch_base()
    run_dir = Path(tempfile.mkdtemp(prefix=f"layerbench-{a.workload}-", dir=base))
    (run_dir / "tmp").mkdir()
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap()}",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "layerbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", a.scale, "--inject", a.inject,
            "--scratch", str(run_dir), "--state", str(build.BUILD / "state" / key[:16])]

    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
    signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(143)))

    result = []

    def pump():
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result.append(line.strip())
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
    t = threading.Thread(target=pump, daemon=True)
    t.start()
    try:
        rc = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"layerbench: run exceeded {RUN_LIMIT_S} s, killed", file=sys.stderr)
        stop()
        proc.wait()
        rc = 124
    finally:
        stop()
        t.join(5)
        shutil.rmtree(run_dir, ignore_errors=True)
        if base == build.ROOT / ".bench_scratch":
            try:
                base.rmdir()
            except OSError:
                pass
    if rc != 0 or not result:
        print(f"layerbench: workload failed (exit {rc})", file=sys.stderr)
        return rc or 1
    out = json.loads(result[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    print(result[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
