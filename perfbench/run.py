#!/usr/bin/env python3
"""Repo benchmark: tweets in, normalized, committed and searchable.

    python3 perfbench/run.py --workload timeline_sync|stream_bulk \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source on first
use (perfbench/build.py), then runs one workload in one JVM
(perfbench.Main) and prints, as the last line of standard output, one
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. The lines before it carry every metric by name with its
unit, host facts and sample counts. See perfbench/NOTES.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("timeline_sync", "stream_bulk")
# a run must end within 180 s once built; leave room to stop the JVM
JVM_DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "test" / "resources" / "tweets.json").is_file():
        print(f"perfbench: {root} holds no program checkout", file=sys.stderr)
        return 2
    classes = build.build(root)
    jars = build.spark_jars()
    work = build.out_dir(root) / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed-size heap: no heap growth or resizing inside the measured window
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.callstack.depth=200",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--checkout", str(root), "--work", str(work)]

    details, results = [], []

    def pump(stream):
        for line in stream:
            if line.startswith("detail "):
                details.append(line[len("detail "):].strip())
            elif line.startswith("result "):
                results.append(line[len("result "):].strip())
            else:
                sys.stderr.write(line)

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    reader = threading.Thread(target=pump, args=(proc.stdout,))
    reader.start()
    try:
        rc = proc.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = None
    finally:
        reader.join()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or len(results) != 1:
        why = "timed out" if rc is None else f"exited {rc}"
        print(f"perfbench: {a.workload} run {why} without a result", file=sys.stderr)
        return 1
    for d in details:
        print(d)
    print(json.dumps(json.loads(results[0])))
    return 0


if __name__ == "__main__":
    started = time.time()
    code = main()
    print(f"perfbench: {time.time() - started:.1f} s", file=sys.stderr)
    sys.exit(code)
