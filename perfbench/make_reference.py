"""Regenerate ``perfbench/reference.json``, the stored expected outputs the
benchmark checks against. Run from the root of a checkout:

    python3 perfbench/make_reference.py oracles
    python3 perfbench/make_reference.py pipeline 0 1 2 42

``oracles`` runs each timed query's DuckDB twin (``queries.ORACLES``) over
``perfbench/data`` and stores its row count and order-insensitive hash,
so benchmark runs need neither DuckDB nor its ~2 min sweep. Needs the
``duckdb`` module.

``pipeline`` runs the fast pipeline at the benchmark's page count for each
seed and stores the committed triple count and hash. These pin the
current output as a regression reference; each seed must first pass the
independent triple P/R >= 0.95 gate against the corpus's golden triples.
A seed with no stored entry is still checked by P/R and by agreement
between the operations of a run.
"""

from __future__ import annotations

import os
import shutil
import sys

import checks
from workloads import OUT, PIPELINE_PAGES, QUERIES, QUERY_DATA, ROOT


def oracles(ref: dict) -> None:
    import duckdb

    sys.path.insert(0, ROOT)
    from split_ner_spark.queries import ORACLES

    con = duckdb.connect()
    for f in sorted(os.listdir(QUERY_DATA)):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(QUERY_DATA, f)}'")
    out = {}
    for name in QUERIES:
        res = con.execute(ORACLES[name])
        cols = [d[0] for d in res.description]
        n, h = checks.frame_fingerprint(cols, res.fetchall())
        out[name] = {"rows": n, "hash": h, "cols": sorted(cols)}
        print(f"{name}: {n} rows [{h}]", flush=True)
    ref["queries"] = out


def pipeline(ref: dict, seeds: list[int]) -> None:
    from run import child_env

    work = os.path.join(OUT, "work", f"reference-{os.getpid()}")
    os.environ.update(child_env(work))
    sys.path.insert(0, ROOT)
    import measure

    if ref.get("pipeline", {}).get("pages") != PIPELINE_PAGES:
        ref["pipeline"] = {"pages": PIPELINE_PAGES, "by_seed": {}}
    blank = {"pipeline": {"pages": PIPELINE_PAGES, "by_seed": {}}}
    spark = measure.start_spark(work, trace=False)
    try:
        for seed in seeds:
            wl = measure.PipelineWorkload(spark, seed, work, blank)
            if not (wl.op()["ok"] and wl.check_pr()):
                raise SystemExit(f"seed {seed}: pipeline output failed its checks")
            n, h = wl.first
            ref["pipeline"]["by_seed"][str(seed)] = {"triples": n, "hash": h}
            print(f"seed {seed}: {n} triples [{h}]", flush=True)
            checks.save_reference(ref)
    finally:
        measure.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] not in ("oracles", "pipeline"):
        print(__doc__, file=sys.stderr)
        return 2
    try:
        ref = checks.load_reference()
    except FileNotFoundError:
        ref = {}
    if sys.argv[1] == "oracles":
        oracles(ref)
    else:
        pipeline(ref, [int(s) for s in sys.argv[2:]])
    checks.save_reference(ref)
    return 0


if __name__ == "__main__":
    sys.exit(main())
