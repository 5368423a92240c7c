"""The engine sizes its shuffles from the session (session.py): the width
defaults to the slot count, and results must not depend on it —
partition-dependent tie-breaking (e.g. in the blocking budget window)
would otherwise show up only as an F1 drift between hosts."""

from __future__ import annotations

import os

import pytest

from address_match_recommend_spark.datagen import TRANSCRIPTS_DDL
from address_match_recommend_spark.plans.incremental import incremental_update
from address_match_recommend_spark.plans.pipeline import run_pipeline

WIDTH = "spark.sql.shuffle.partitions"


@pytest.mark.skipif(
    "SPARK_GRAFT_SHUFFLE_PARTITIONS" in os.environ,
    reason="an explicit width overrides the default",
)
def test_width_defaults_to_slot_count(spark):
    assert int(spark.conf.get(WIDTH)) == spark.sparkContext.defaultParallelism


def _run_at_width(spark, width, transcripts, old_tr, new_tr):
    """Clusters and scored pairs of a full run and of one incremental
    update, with the session's shuffle width set to ``width``."""
    saved = spark.conf.get(WIDTH)
    spark.conf.set(WIDTH, str(width))
    try:
        full = run_pipeline(transcripts)
        prev = run_pipeline(old_tr)
        inc = incremental_update(
            prev.conversations, prev.representatives, prev.idf,
            prev.postings, prev.clusters, new_tr,
        )
        return {
            name: {tuple(r) for r in df.collect()}
            for name, df in (
                ("clusters", full.clusters),
                ("scored", full.scored.select("conv_id_a", "conv_id_b", "is_match")),
                ("inc_clusters", inc.clusters),
                ("inc_scored", inc.scored.select("conv_id_a", "conv_id_b", "is_match")),
            )
        }
    finally:
        spark.conf.set(WIDTH, saved)


def test_results_invariant_to_shuffle_width(spark, tiny_corpus, tiny_tables):
    tr, clusters = tiny_corpus.transcripts, tiny_corpus.expected_clusters
    late = set(sorted(clusters["entity_id"].unique())[-3:])
    mask = tr["conv_id"].isin(clusters[clusters["entity_id"].isin(late)]["conv_id"])
    old_tr = spark.createDataFrame(tr[~mask], schema=TRANSCRIPTS_DDL)
    new_tr = spark.createDataFrame(tr[mask], schema=TRANSCRIPTS_DDL)

    before = spark.conf.get(WIDTH)
    narrow = _run_at_width(spark, 1, tiny_tables["transcripts"], old_tr, new_tr)
    wide = _run_at_width(spark, 8, tiny_tables["transcripts"], old_tr, new_tr)
    assert spark.conf.get(WIDTH) == before
    assert narrow["scored"] and narrow["inc_scored"]
    for name in narrow:
        assert narrow[name] == wide[name], name
