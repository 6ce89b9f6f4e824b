"""OSM city-extract benchmark: runs one workload in a fresh JVM.

    python3 osmbench/run.py --workload city --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source on first use, generates
(or reuses) the seeded extract, runs the workload's closed query loop,
checks every result and prints one JSON object as the last line of
standard output. With --trace 0 it reports the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer metrics, and the traced run
writes its spans to osmbench/.work/traces/. See osmbench/README.md.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"osmbench: unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath = build.build()
    work = HERE / ".work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    out = work / f"result-{os.getpid()}.json"
    out.unlink(missing_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "osmbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(HERE / ".data"), "--work", str(work), "--out", str(out)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"osmbench: {args.workload} did not finish in {JVM_TIMEOUT_S} s")
    if code != 0 or not out.exists():
        raise SystemExit(f"osmbench: {args.workload} exited with code {code}")
    raw = json.loads(out.read_text())
    out.unlink()
    missing = [m["name"] for m in wanted if m["name"] not in raw["metrics"]]
    if missing:
        raise SystemExit(f"osmbench: no value for {', '.join(missing)}")
    result = {
        "correct": raw["correct"],
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {m["name"]: {"value": raw["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
