#!/usr/bin/env python3
"""KG-construction benchmark for ffp_spark.

    python3 perfbench/run.py --workload bulk_parse --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh worker process (one JVM, local[cores]),
samples the worker's process tree for resident memory, enforces the time
limit, and prints every metric by name and unit.  The last line of
standard output is the JSON result.  All files the run writes (corpora,
the delta workload's parent snapshot, Spark temp files, event logs, logs)
live under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import procfs  # noqa: E402
from perfbench.worker import parent_dir  # noqa: E402

WORK = ROOT / "perfbench" / ".work"
TIME_LIMIT_S = 175.0
JVM_HEAP = "2g"


def _env(trace: bool, tag: str) -> dict[str, str]:
    """Launch-time settings: the program's own session code is untouched."""
    tmp = WORK / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        events = WORK / "eventlog" / tag
        events.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    local = WORK / "spark-local" / tag
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # Python workers import ffp_spark: they need the checkout root
        "PYTHONPATH": str(ROOT),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "FFP_DRIVER_MEM": JVM_HEAP,
        "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
    })
    return env


def _reap_group(pgid: int) -> None:
    """Kill whatever the worker left in its process group and wait for it."""
    for _ in range(100):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _child(argv: list[str], env: dict[str, str], log: Path, deadline: float) -> tuple[int, float]:
    """Run a worker; returns (exit code, peak tree RSS in MB)."""
    with open(log, "ab") as fh:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", *argv],
            cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
    peak = procfs.PeakRss()

    def sample() -> None:
        while proc.poll() is None:
            peak.sample(proc.pid)
            time.sleep(0.2)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        code = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded the time limit; see {log}", file=sys.stderr)
        code = -1
    finally:
        _reap_group(proc.pid)
        proc.wait()
        sampler.join()
        shutil.rmtree(WORK / "runs" / f"kg-{proc.pid}", ignore_errors=True)
    return code, peak.mb()


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("bulk_parse", "delta_refresh"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    deadline = time.monotonic() + TIME_LIMIT_S
    # on SIGTERM unwind through _child's cleanup, which kills the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "ffp_spark" / "pipeline.py").is_file():
        print(f"perfbench: no ffp_spark package under {ROOT}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    for d in ("logs", "out", "cache", "runs"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    log = WORK / "logs" / f"{tag}.log"
    out = WORK / "out" / f"{tag}.json"
    env = _env(bool(args.trace), tag)

    if args.workload == "delta_refresh" and not (parent_dir(WORK) / "DONE").exists():
        code, _ = _child(["--work", str(WORK), "--build-parent"], _env(False, tag), log, deadline)
        if code != 0:
            print(f"perfbench: building the parent snapshot failed; see {log}", file=sys.stderr)
            return 1
    try:
        code, peak = _child(
            ["--work", str(WORK), "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", str(out)],
            env, log, deadline,
        )
    finally:
        for sub in ("spark-local", "eventlog"):
            shutil.rmtree(WORK / sub / tag, ignore_errors=True)
    if code != 0 or not out.is_file():
        print(f"perfbench: worker failed (exit {code}); see {log}", file=sys.stderr)
        return 1
    result = json.loads(out.read_text())
    details = result.pop("details")
    (WORK / "out" / f"{tag}-details.json").write_text(json.dumps(details, indent=1, default=str))
    if not result["metrics"]:
        print(f"perfbench: no successful operation; see {log}", file=sys.stderr)
        return 1
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak, "unit": "MB"}

    samples = details.get("samples", {})
    print(f"{args.workload} seed={args.seed} ops={result['attempted']} failed={result['failed']}"
          f" correct={result['correct']} samples={samples}")
    for reason in details["reasons"]:
        print(f"  failed op: {reason}")
    for name, m in result["metrics"].items():
        print(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
