"""link_mentions(canonicalize_self=True) must be row-identical to the
round-5 composition canonicalize_self_linked(link_mentions(...)).

The corpus slice is sized so the fuzzy/self paths are exercised: fuzzy
surfaces (concatenated corp variants) miss the dictionary, and FN-noise
lowercased mentions plus fake capitalized bigrams produce self-linked
surfaces. No two of the corpus's self-linked surfaces are near-duplicates
of each other, so the test plants a one-letter variant of one of them;
the merge then has a pair to collapse.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from split_ner_spark import corpus
from split_ner_spark.ops.canon import canonicalize_self_linked
from split_ner_spark.ops.classify import classify_mentions
from split_ner_spark.ops.detect import detect_spans
from split_ner_spark.ops.link import link_mentions
from split_ner_spark.ops.segment import segment_pages
from split_ner_spark.ops.assemble import assemble_untyped
from split_ner_spark.pipeline import alias_dim


def test_canonicalize_fold_matches_composition(spark):
    pages = corpus.pages(corpus.gen_pages_with_gold(spark, 800))
    mentions = classify_mentions(
        assemble_untyped(detect_spans(segment_pages(pages)))
    ).drop("tokens")
    variant = mentions.filter(F.lower("surface") == "quuxton grumbly").withColumn(
        "surface", F.lit("Quuxton Grumblys")
    )
    mentions = mentions.unionByName(variant)
    alias = alias_dim(spark)

    old = canonicalize_self_linked(link_mentions(mentions, alias))
    new = link_mentions(mentions, alias, canonicalize_self=True)

    assert old.columns == new.columns
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b
    # the slice must actually exercise the merge: some self ids exist and
    # at least one surface was remapped off its own-surface id
    via_idx = old.columns.index("linked_via")
    vias = {row[via_idx] for row in a}
    assert "self" in vias and "exact" in vias
    cid_idx = old.columns.index("canonical_id")
    norm_idx = old.columns.index("surface_norm")
    remapped = [
        row for row in a
        if row[via_idx] == "self" and row[cid_idx] != "surface:" + row[norm_idx]
    ]
    assert remapped
