"""Interleaved A/B harness for the fast-mode pipeline (round 6 evidence).

This VM's hypervisor noise arrives in minutes-long windows that swing
identical runs 2-3x (BASELINE.md), so single-arm before/after walls are
not trustworthy. This harness alternates FULL pipeline runs between two
checkouts of the repo — each run in a FRESH JVM (subprocess) so no
session state leaks across arms — and prints one line per run. Pair the
arms per cycle when reading: noise windows then hit both arms roughly
equally, and the triple count printed per run doubles as an end-to-end
output-identity check between the two code versions.

Usage:
  git archive <baseline-commit> | tar -x -C /tmp/baseline
  python scripts/ab_pipeline.py /tmp/baseline /root/repo [n_pairs] [n_pages]

Round-6 second-session result (baseline b0fe45d vs final, 6 pairs, 2M
pages): old best 34.0 / median 44.0 -> new best 21.0 / median 35.0,
triples == 7,472,901 in all 12 runs.
"""

from __future__ import annotations

import subprocess
import sys
import tempfile
import textwrap

RUN_ONE = textwrap.dedent(
    """
    import sys, tempfile, time
    root = sys.argv[1]
    sys.path.insert(0, root)
    from split_ner_spark.session import get_spark
    from split_ner_spark.pipeline import run_pipeline
    spark = get_spark(cpus=32)
    warm = tempfile.mkdtemp(prefix="ab_warm_")
    run_pipeline(spark, warm, n_pages=max(200, int(sys.argv[2]) // 10),
                 resume=False, evaluate=False, granularity="fast",
                 triple_partitions=64)
    wd = tempfile.mkdtemp(prefix="ab_run_")
    t0 = time.time()
    s = run_pipeline(spark, wd, n_pages=int(sys.argv[2]), resume=False,
                     evaluate=False, granularity="fast", triple_partitions=64)
    print(f"RESULT {root} wall={time.time()-t0:.2f} triples={s['triples']}",
          flush=True)
    spark.stop()
    """
)


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    n_pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_pages = int(sys.argv[4]) if len(sys.argv) > 4 else 2_000_000
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as fh:
        fh.write(RUN_ONE)
        script = fh.name
    for _ in range(n_pairs):
        for root in (a, b):
            out = subprocess.run(
                [sys.executable, script, root, str(n_pages)],
                capture_output=True, text=True,
            )
            if out.returncode != 0:
                tail = "\n    ".join(out.stderr.strip().splitlines()[-20:])
                print(f"FAILED {root} returncode={out.returncode}\n    {tail}",
                      flush=True)
                continue
            for line in out.stdout.splitlines():
                if line.startswith("RESULT"):
                    print(line, flush=True)


if __name__ == "__main__":
    main()
