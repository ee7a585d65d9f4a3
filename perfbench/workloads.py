"""Workload definitions shared by the entry point and the measured session.

Kept free of Spark imports so ``run.py`` can validate its arguments
without starting a JVM.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# documents.parquet + embeddings.parquet, the only two tables the queries
# read: the first 2,000 of the 5,000 rows of the seed-42 sf0.1 documents
# table, and all 2,000 rows of its embeddings table
QUERY_DATA = os.path.join(HERE, "data")
REFERENCE = os.path.join(HERE, "reference.json")
# scratch space and outputs of runs, inside the checkout (git-ignored)
OUT = os.path.join(ROOT, ".perfbench")
TRACES = os.path.join(OUT, "traces")

# fast-granularity pipeline size: the largest that, with the query data
# below, leaves a quarter of the benchmark's time budget for slow windows
# (README.md, "Budget"); ~165k mentions and ~153k triples
PIPELINE_PAGES = 40_000

# The timed query workload: the queries on the layers a planned change
# targets. None of them runs the fused mentions stage, link_mentions,
# make_triples or the salted write, so this workload is the no-change
# control for those; a cold pass takes about 36 s on 4 vCPUs.
QUERIES = [
    "kg_span_assembly",     # gazetteer BIO tagger
    "kg_eval_f1",           # tagger + tokenizer, tokenized twice today
    "kg_mention_contexts",  # second copy of the tagger
    "kg_scheme_rewrite",    # third copy of the tagger
    "text_quality",         # ops.textstats
    "dedup_ngram_jaccard",  # ops.dedup exact shingle self-join
    "dedup_components",     # ops.lsh MinHash graph + ops.canon components
    "ann_cosine_topk",      # ops.simsearch brute-force vector expressions
    "ann_lsh_topk",         # ops.simsearch random-hyperplane LSH
]

# workload name -> query list; None marks the pipeline workload
WORKLOADS: dict[str, list[str] | None] = {
    "pipeline": None,
    "queries": QUERIES,
}
