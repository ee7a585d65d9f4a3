"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 42 --seconds 10 --trace 0

Run from the root of a checkout. Starts one measured session
(``measure.py``) in a child process with the environment Spark and its
python workers need, relays its result (the last stdout line, a JSON
object), and makes sure every process the session started has ended.
All scratch files live under ``.perfbench/`` in the checkout.

Workloads: ``pipeline`` and ``queries``. ``--trace 1`` prints per-layer
metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

import procs
from workloads import OUT, ROOT, WORKLOADS

# the session must end within 180 s; leave room to stop what it started
DEADLINE_S = 165
# wall_s of every untraced run in this checkout, one JSON per line, with
# its seed and source revision
HISTORY = os.path.join(OUT, "history.jsonl")


def child_env(work: str) -> dict[str, str]:
    env = dict(os.environ)
    # python workers import the program too; a sys.path entry made in
    # this process does not reach them
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # shuffle/spill and temp files stay inside the checkout
    env["SPARK_GRAFT_LOCAL_DIR"] = local
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    # the same for both JVMs spark-submit starts (its launcher, then the
    # Spark JVM); no perf-data file under /tmp either
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_LAUNCHER_OPTS"] = jvm
    env["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), jvm) if p)
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 0:
        ap.error("--seconds must be >= 0")
    if not os.path.isdir(os.path.join(ROOT, "split_ner_spark")):
        print(f"no split_ner_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(OUT, "work", str(os.getpid()))
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "measure.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work,
    ]
    child = subprocess.Popen(cmd, cwd=ROOT, env=child_env(work),
                             stdout=subprocess.PIPE, text=True)
    try:
        out, _ = child.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"session exceeded {DEADLINE_S} s; stopping it", file=sys.stderr)
        tree = [child.pid] + procs.descendants(child.pid)
        procs.wait_gone(tree, grace_s=0)
        child.wait()
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if child.returncode != 0:
        print(f"session exited with {child.returncode}", file=sys.stderr)
        return 1
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print("session printed no result", file=sys.stderr)
        return 1
    record(args, result)
    print(json.dumps(result))
    return 0


def revision() -> str:
    """Hash of the program's and the benchmark's python sources. A checkout
    need not be a git repository, so this stands in for its commit."""
    h = hashlib.sha256()
    for d in ("split_ner_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, d, "**", "*.py"),
                                     recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def record(args, result: dict) -> None:
    """Keep untraced walls; report a traced run's wall against those of the
    same workload, seed and source revision (the traced run measures the
    same operation positions in its session)."""
    m = result["metrics"]
    key = {"workload": args.workload, "seed": args.seed, "rev": revision()}
    if not args.trace:
        os.makedirs(OUT, exist_ok=True)
        with open(HISTORY, "a") as fh:
            fh.write(json.dumps({**key, "wall_s": m["wall_s"]["value"]}) + "\n")
        return
    try:
        with open(HISTORY) as fh:
            walls = [r["wall_s"] for r in map(json.loads, fh)
                     if all(r.get(k) == v for k, v in key.items())]
    except FileNotFoundError:
        walls = []
    traced = m["trace.wall_s"]["value"]
    if not walls:
        print(f"# trace overhead: no untraced run of seed {args.seed} at this "
              f"revision to compare with", file=sys.stderr)
        return
    base = statistics.median(walls)
    print(f"# trace overhead: traced wall {traced:.3f} s vs untraced median "
          f"{base:.3f} s over {len(walls)} runs ({traced / base - 1:+.1%})",
          file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
