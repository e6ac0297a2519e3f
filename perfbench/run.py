#!/usr/bin/env python3
"""graft benchmark: one workload at one seed, in one JVM on local[4].

Run from the repository root:

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 20 --trace 0

Builds graft and the harness first when their sources changed (see
perfbench/build.py). Prints the generated inputs' properties, every metric by
name with its unit, and the output-check verdict; the last line of standard
output is the result as one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Run data lives under .bench_work/ and is deleted at the end of a run, except
.bench_work/results/ (inputs, details, metrics and spans of each run).
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest_bulk", "upsert_search")
DEADLINE_S = 175
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    try:
        build.build()
    except subprocess.CalledProcessError as e:
        sys.exit(f"build: compiler failed ({e.returncode})")

    work_root = Path(".bench_work").resolve()
    tmp = work_root / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    work = work_root / f"{a.workload}-{a.seed}-{a.trace}"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
              "--goldens", str(Path(__file__).resolve().parent / "goldens.json")])
    log_path = work_root / f"{a.workload}-{a.seed}-{a.trace}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(f"run: timed out after {DEADLINE_S} s; log in {log_path}")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(Path(log_path).read_text()[-4000:])
        sys.exit(f"run: harness exited with {proc.returncode}; log in {log_path}")
    result = json.loads(lines[-1])
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
