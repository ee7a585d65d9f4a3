"""One measured benchmark session; ``run.py`` starts it in a child process
with the environment it needs, so run that instead.

A session starts Spark (``local[nproc]``, the program's ``get_spark``),
runs one small engine warm-up job, then runs operations in a closed loop,
one at a time, until ``--seconds`` have passed (at least one). An
operation is one fast-granularity pipeline run, or one pass over a query
list where each query is built, planned and collected; the first one in
a session is cold for its own plans. Every operation's output is checked
outside the timed region. The last stdout line is the result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

T_START = time.perf_counter()

import checks  # noqa: E402
import procs  # noqa: E402
import spans  # noqa: E402
from workloads import (  # noqa: E402
    PIPELINE_PAGES, QUERIES, QUERY_DATA, TRACES, WORKLOADS,
)

MIN_PR = 0.95

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_geomean_s": "s",
    "rows_per_s": "1/s",
}
PIPELINE_LAYER = {
    "mentions.wall_s": "s", "mentions.task_s": "s", "mentions.task_skew": "ratio",
    "mentions.rows": "count", "mentions.bytes_written": "B",
    "link.wall_s": "s", "link.self_s": "s", "link.jobs": "count",
    "link.surfaces": "count", "link.lsh_hit_ratio": "ratio",
    "canon.wall_s": "s", "canon.jobs": "count", "canon.merged_surfaces": "count",
    "salt_detect.wall_s": "s", "salt_detect.jobs": "count",
    "linked.cached_bytes": "B",
    "triples_write.wall_s": "s", "triples_write.shuffle_write_bytes": "B",
    "triples_write.shuffle_stages": "count", "triples_write.spill_bytes": "B",
    "triples_write.task_skew": "ratio", "triples_write.bytes_written": "B",
    "triples.rows": "count", "cooccur.capped_sentences": "count",
    "pipeline.self_s": "s", "pipeline.attributed_ratio": "ratio",
    "pipeline.jobs": "count",
}
QUERY_LAYER = {
    "queries.build_s": "s", "queries.plan_s": "s", "queries.execute_s": "s",
    "queries.jobs": "count", "queries.spill_bytes": "B",
}
SESSION_LAYER = {
    "session.peak_rss_mb": "MB", "trace.wall_s": "s",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, whatever its workload:
    a layer the workload does not touch reads 0."""
    units = {**PIPELINE_LAYER, **QUERY_LAYER}
    for q in QUERIES:
        units[f"q.{q}.s"] = "s"
        units[f"q.{q}.shuffle_bytes"] = "B"
    units.update(SESSION_LAYER)
    return units


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def maybe_span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


class PipelineWorkload:
    """``run_pipeline(granularity="fast", resume=False, evaluate=False)``
    into a fresh workdir per operation."""

    def __init__(self, spark, seed: int, work: str, reference: dict):
        from split_ner_spark import pipeline

        self.spark = spark
        self.seed = seed
        self.work = work
        self.pipeline = pipeline
        ref = reference["pipeline"]
        if ref["pages"] != PIPELINE_PAGES:
            raise SystemExit("reference.json was recorded at another page count")
        self.expected = ref["by_seed"].get(str(seed))
        self.first: tuple[int, str] | None = None
        self.last_dir: str | None = None
        self.probe: dict = {}
        self._n = 0

    def op(self, tracer=None) -> dict:
        self._n += 1
        workdir = os.path.join(self.work, f"pipeline{self._n}")
        self.probe = {}
        cpus = self.spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        with maybe_span(tracer, "pipeline") as root:
            summary = self.pipeline.run_pipeline(
                self.spark, workdir, n_pages=PIPELINE_PAGES, seed=self.seed,
                resume=False, evaluate=False,
                triple_partitions=max(2 * cpus, 32), granularity="fast",
            )
        wall = time.perf_counter() - t0
        res = {"wall_s": wall, "rows": summary["triples"], "kinds": {"pipeline": wall}}
        res["ok"] = self._check(workdir, summary)
        if tracer is not None:
            res["root"] = root["id"]
            res["trace"] = self._probe(tracer, summary)
        if self.last_dir is not None:
            shutil.rmtree(self.last_dir, ignore_errors=True)
        self.last_dir = workdir
        return res

    def _check(self, workdir: str, summary: dict) -> bool:
        got = checks.parquet_fingerprint(os.path.join(workdir, "triples"))
        ok = got[0] == summary["triples"]
        if self.first is None:
            self.first = got
        if got != self.first:
            log(f"pipeline output differs between operations: {got} vs {self.first}")
            ok = False
        if self.expected is not None and list(got) != [
            self.expected["triples"], self.expected["hash"]
        ]:
            log(f"pipeline output {got} != reference {self.expected}")
            ok = False
        return ok

    def check_pr(self) -> bool:
        """Triple P/R of the last committed output against the corpus's
        golden triples (the BASELINE gate). An output equal to the stored
        reference passed this gate when the reference was recorded, so
        the check only runs for seeds without one."""
        if self.expected is not None:
            return True
        from split_ner_spark import corpus
        from split_ner_spark.ops.metrics import triple_pr

        pg = corpus.gen_pages_with_gold(self.spark, PIPELINE_PAGES, self.seed)
        golden = corpus.golden_triples(corpus.gold_mentions(pg)).cache()
        emitted = self.spark.read.parquet(os.path.join(self.last_dir, "triples"))
        try:
            pr = triple_pr(emitted, golden)
        finally:
            golden.unpersist()
        log(f"triple P/R {pr['precision']:.4f}/{pr['recall']:.4f} "
            f"({pr['emitted']} emitted, {pr['golden']} golden)")
        return pr["precision"] >= MIN_PR and pr["recall"] >= MIN_PR

    def install(self, tracer) -> None:
        from split_ner_spark.ops import canon

        pl = self.pipeline

        def stage_name(args, kwargs):
            return "write:" + (args[2] if len(args) > 2 else kwargs["stage"])

        def after_link(rec, args, kwargs, out):
            # the link dimension is the last frame link_mentions hands back
            # through its cleanup list
            self.probe["dim"] = kwargs["cleanup"][-1]
            self.probe["cached_after_link"] = tracer.cached_bytes()

        def after_canon(rec, args, kwargs, out):
            self.probe["comp"] = out

        def after_salt(rec, args, kwargs, out):
            # hot-key detection is the first action on the cached linked frame
            self.probe["linked_bytes"] = (
                tracer.cached_bytes() - self.probe.get("cached_after_link", 0))

        tracer.wrap(pl.StageCommitter, "write", stage_name)
        tracer.wrap(pl, "link_mentions", lambda a, k: "link", after_link)
        tracer.wrap(canon, "self_surface_canon_map", lambda a, k: "canon", after_canon)
        tracer.wrap(pl, "salted_by_subject", lambda a, k: "salt_detect", after_salt)

    def _probe(self, tracer, summary: dict) -> dict:
        """Counts read back from the op's intermediate frames, after the
        timed region, under a job group of their own."""
        from pyspark.sql import functions as F

        out = {
            "mentions.rows": summary["rows"]["mentions"],
            "triples.rows": summary["triples"],
            "cooccur.capped_sentences": (summary["cooccur_cap"] or {}).get(
                "n_capped_sentences", 0),
            "linked.cached_bytes": self.probe.get("linked_bytes", 0),
        }
        with tracer.span("probe"):
            via = dict(self.probe["dim"].groupBy("linked_via").count().collect())
            comp = self.probe.get("comp")
            merged = 0 if comp is None else comp.filter(
                F.col("_canon2") != F.concat(F.lit("surface:"), F.col("surface_norm"))
            ).count()
        sent_to_lsh = via.get("lsh", 0) + via.get("self", 0)
        out["link.surfaces"] = sum(via.values())
        out["link.lsh_hit_ratio"] = via.get("lsh", 0) / sent_to_lsh if sent_to_lsh else 0.0
        out["canon.merged_surfaces"] = merged
        return out

    def layer_metrics(self, res: dict, tracer, groups: dict) -> dict:
        by_id = {s["id"]: s for s in tracer.spans}
        root = by_id[res["root"]]
        kids = {s["name"]: s for s in tracer.spans if s["parent"] == root["id"]}
        link = kids["link"]
        canon_span = next(
            (s for s in tracer.spans if s["parent"] == link["id"]), None)

        def g(span):
            return spans.group_summary(groups.get(span["group"]) if span else None)

        def dur(span):
            return span["end"] - span["start"] if span else 0.0

        mentions, write = g(kids["write:mentions"]), g(kids["write:triples"])
        subtree = [s for s in tracer.spans if _under(s, root["id"], by_id)]
        wall = dur(root)
        m = dict(res["trace"])
        m.update({
            "mentions.wall_s": dur(kids["write:mentions"]),
            "mentions.task_s": mentions["task_s"],
            "mentions.task_skew": mentions["task_skew"],
            "mentions.bytes_written": mentions["bytes_written"],
            "link.wall_s": dur(link),
            "link.self_s": dur(link) - dur(canon_span),
            "link.jobs": g(link)["jobs"],
            "canon.wall_s": dur(canon_span),
            "canon.jobs": g(canon_span)["jobs"],
            "salt_detect.wall_s": dur(kids["salt_detect"]),
            "salt_detect.jobs": g(kids["salt_detect"])["jobs"],
            "triples_write.wall_s": dur(kids["write:triples"]),
            "triples_write.shuffle_write_bytes": write["shuffle_write_bytes"],
            "triples_write.shuffle_stages": write["shuffle_stages"],
            "triples_write.spill_bytes": write["spill_bytes"],
            "triples_write.task_skew": write["task_skew"],
            "triples_write.bytes_written": write["bytes_written"],
            "pipeline.self_s": spans.self_time(root, tracer.spans),
            "pipeline.attributed_ratio": 1.0 - spans.self_time(root, tracer.spans) / wall,
            "pipeline.jobs": sum(g(s)["jobs"] for s in subtree),
        })
        return m


class QueryWorkload:
    """One operation is one pass over the query list; each query is built,
    its executed plan forced, then collected (the rows feed the check)."""

    def __init__(self, spark, names: list[str], reference: dict):
        from split_ner_spark import queries

        self.spark = spark
        self.names = names
        self.queries = queries
        self.expected = reference["queries"]

    def op(self, tracer=None) -> dict:
        per: dict[str, dict] = {}
        ok = True
        rows = 0
        with maybe_span(tracer, "pass") as root:
            for name in self.names:
                try:
                    per[name], n = self._one(name, tracer)
                except Exception:
                    traceback.print_exc()
                    log(f"query {name} raised")
                    ok = False
                    continue
                ok &= per[name]["ok"]
                rows += n
        res = {
            "wall_s": sum(q["s"] for q in per.values()),
            "rows": rows,
            "ok": ok and len(per) == len(self.names),
            "kinds": {n: q["s"] for n, q in per.items()},
            "queries": per,
        }
        if tracer is not None:
            res["root"] = root["id"]
        return res

    def _one(self, name: str, tracer) -> tuple[dict, int]:
        fn = self.queries.QUERIES[name]
        with maybe_span(tracer, f"q:{name}"):
            t0 = time.perf_counter()
            with maybe_span(tracer, "build"):
                df = fn(self.spark, QUERY_DATA)
            t1 = time.perf_counter()
            with maybe_span(tracer, "plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with maybe_span(tracer, "execute"):
                rows = df.collect()
            t3 = time.perf_counter()
        cols = df.columns
        n, h = checks.frame_fingerprint(cols, [tuple(r) for r in rows])
        exp = self.expected[name]
        ok = sorted(cols) == sorted(exp["cols"]) and [n, h] == [exp["rows"], exp["hash"]]
        log(f"{name}: build {t1 - t0:.3f} plan {t2 - t1:.3f} execute {t3 - t2:.3f} s")
        if not ok:
            log(f"query {name}: {n} rows [{h}] != reference {exp['rows']} rows [{exp['hash']}]")
        self.queries.drain_cache(self.spark)
        self.spark.catalog.clearCache()
        return {"build_s": t1 - t0, "plan_s": t2 - t1, "execute_s": t3 - t2,
                "s": t3 - t0, "ok": ok}, n

    def check_pr(self) -> bool:
        return True

    def install(self, tracer) -> None:
        pass

    def layer_metrics(self, res: dict, tracer, groups: dict) -> dict:
        by_id = {s["id"]: s for s in tracer.spans}
        m: dict[str, float] = {}
        for stage in ("build", "plan", "execute"):
            m[f"queries.{stage}_s"] = sum(q[f"{stage}_s"] for q in res["queries"].values())
        subtree = [s for s in tracer.spans if _under(s, res["root"], by_id)]
        summ = [spans.group_summary(groups.get(s["group"])) for s in subtree]
        m["queries.jobs"] = sum(x["jobs"] for x in summ)
        m["queries.spill_bytes"] = sum(x["spill_bytes"] for x in summ)
        for name, q in res["queries"].items():
            qspan = next(s for s in subtree if s["name"] == f"q:{name}")
            m[f"q.{name}.s"] = q["s"]
            m[f"q.{name}.shuffle_bytes"] = sum(
                spans.group_summary(groups.get(s["group"]))["shuffle_write_bytes"]
                for s in subtree if _under(s, qspan["id"], by_id))
        return m


def _under(span: dict, root_id: int, by_id: dict) -> bool:
    """True if ``span`` is ``root_id`` or one of its descendants."""
    while span is not None:
        if span["id"] == root_id:
            return True
        span = by_id.get(span["parent"])
    return False


def closed_loop(workload, seconds: float, tracer=None) -> list[dict]:
    """Run operations back to back until ``seconds`` have passed (at
    least one). A raised exception counts as a failed operation."""
    out = []
    t0 = time.perf_counter()
    while True:
        try:
            out.append(workload.op(tracer))
        except Exception:
            traceback.print_exc()
            out.append({"ok": False})
        log(f"op {len(out)}: wall {out[-1].get('wall_s', float('nan')):.3f} s "
            f"ok={out[-1]['ok']}")
        if time.perf_counter() - t0 >= seconds:
            return out


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(setup_s: float, ops: list[dict]) -> dict:
    good = [o for o in ops if o["ok"]]
    wall = statistics.median(o["wall_s"] for o in good)
    kinds = good[0]["kinds"]
    per_kind = [statistics.median(o["kinds"][k] for o in good) for k in kinds]
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "query_geomean_s": geomean(per_kind),
        "rows_per_s": statistics.median(o["rows"] for o in good) / wall,
    }


def start_spark(work: str, trace: bool):
    from split_ner_spark.session import get_spark

    conf = {}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        # uncompressed: reading Spark 4's default zstd log would need the
        # zstandard module, which the benchmark does not depend on
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(app_name="perfbench", cpus=cpus, shuffle_partitions=cpus,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_engine(spark) -> None:
    """One small job through what every operation uses first: a shuffle,
    Arrow and one python worker per core. Their first-use cost is set-up,
    not part of whichever operation happens to run first; the operations
    themselves still run cold (their own plans and UDFs)."""
    cpus = spark.sparkContext.defaultParallelism
    (
        spark.range(0, 100_000, 1, cpus)
        .selectExpr("id % 1000 as k")
        .groupBy("k").count()
        .repartition(cpus)
        .mapInPandas(lambda batches: batches, "k long, count long")
        .collect()
    )


def stop_spark(spark) -> float:
    """Stop the session, end the JVM and its python workers, and wait for
    all of them; returns their summed peak RSS in MB."""
    from pyspark import SparkContext

    tree = procs.descendants(os.getpid())
    rss = procs.peak_rss_mb(tree)
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    gateway.proc.stdin.close()
    procs.wait_gone(tree, grace_s=30.0)
    gateway.proc.wait()
    return rss


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    trace = bool(args.trace)
    log(f"workload={args.workload} seed={args.seed} trace={args.trace} "
        f"nproc={os.environ['SPARK_GRAFT_CPUS']} loadavg={os.getloadavg()}")

    reference = checks.load_reference()
    names = WORKLOADS[args.workload]
    spark = start_spark(args.work, trace)
    try:
        log("session started")
        if names is None:
            wl = PipelineWorkload(spark, args.seed, args.work, reference)
        else:
            wl = QueryWorkload(spark, names, reference)
        warm_engine(spark)
        setup_s = time.perf_counter() - T_START
        log(f"setup {setup_s:.3f} s")
        tracer = None
        if trace:
            tracer = spans.Tracer(spark, f"r{os.getpid()}")
            wl.install(tracer)
        ops = closed_loop(wl, args.seconds, tracer)
        if tracer is not None:
            tracer.unpatch()
        if any(o["ok"] for o in ops) and not wl.check_pr():
            ops[-1]["ok"] = False
        log("checks done")
    finally:
        rss = stop_spark(spark)
    log("session stopped")

    failed = sum(1 for o in ops if not o["ok"])
    if failed == len(ops):
        log("every operation failed")
        return 1
    if trace:
        groups = spans.read_event_log(os.path.join(args.work, "events"))
        good = [o for o in ops if o["ok"]]
        per_op = [wl.layer_metrics(o, tracer, groups) for o in good]
        traced_wall = statistics.median(o["wall_s"] for o in good)
        units = layer_units()
        values = {k: statistics.median(m.get(k, 0) for m in per_op) for k in units}
        values["session.peak_rss_mb"] = rss
        values["trace.wall_s"] = traced_wall
        os.makedirs(TRACES, exist_ok=True)
        path = os.path.join(TRACES, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
                       "loadavg": os.getloadavg(), "spans": tracer.spans}, fh)
        log(f"spans written to {path}")
    else:
        units = END_TO_END
        values = end_to_end(setup_s, ops)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
