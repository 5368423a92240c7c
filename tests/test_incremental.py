"""Incremental append (reference ImportAddr path, S6): appending a batch
must produce the same clustering as a full-batch rerun, without
re-canonicalizing or re-scoring the old corpus."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from address_match_recommend_spark.datagen import (
    TRANSCRIPTS_DDL,
    corpus_to_spark,
    generate_corpus,
)
from address_match_recommend_spark.plans.incremental import incremental_update
from address_match_recommend_spark.plans.pipeline import run_pipeline


def _partition(df) -> set[frozenset]:
    """Cluster partitioning as a set of frozensets (id-convention-free)."""
    groups: dict[str, set] = {}
    for r in df.collect():
        groups.setdefault(r["entity_id"], set()).add(r["conv_id"])
    return {frozenset(v) for v in groups.values()}


@pytest.fixture(scope="module")
def split_corpus(spark):
    """Corpus of 20 entities; batch B holds every conversation of the last
    6 entities (brand-new entities arriving later) plus 2 extra duplicate
    conversations of old entities (cluster-growing appends)."""
    corpus = generate_corpus(n_entities=20, seed=1234)
    tr = corpus.transcripts
    clusters = corpus.expected_clusters
    entities = sorted(clusters["entity_id"].unique())
    new_entities = set(entities[-6:])
    new_convs = set(
        clusters[clusters["entity_id"].isin(new_entities)]["conv_id"]
    )
    # two extra dups of old entities: highest conv_id of first two old ents
    for ent in entities[:2]:
        members = sorted(clusters[clusters["entity_id"] == ent]["conv_id"])
        new_convs.add(members[-1])
    batch_mask = tr["conv_id"].isin(new_convs)
    old_tr = spark.createDataFrame(tr[~batch_mask], schema=TRANSCRIPTS_DDL)
    new_tr = spark.createDataFrame(tr[batch_mask], schema=TRANSCRIPTS_DDL)
    full = corpus_to_spark(spark, corpus)
    return old_tr, new_tr, full


def test_incremental_matches_full_batch(spark, split_corpus):
    old_tr, new_tr, full = split_corpus
    prev = run_pipeline(old_tr)
    inc = incremental_update(
        prev.conversations,
        prev.representatives,
        prev.idf,
        prev.postings,
        prev.clusters,
        new_tr,
    )
    from address_match_recommend_spark.plans.evaluate import pairwise_f1

    # the incremental clustering must pass the same F1 gate as a full
    # batch run (exact partition equality is NOT required: the batch run
    # refits IDF over the union, so borderline cosines can differ)
    f1 = pairwise_f1(full["labeled_pairs"], inc.clusters)["f1"]
    assert f1 >= 0.99, f1

    batch = run_pipeline(full["transcripts"])
    f1_batch = pairwise_f1(full["labeled_pairs"], batch.clusters)["f1"]
    assert f1_batch >= 0.99, f1_batch
    # new pairs never touch two old conversations
    old_ids = {r["conv_id"] for r in prev.conversations.select("conv_id").collect()}
    new_ids = {r["conv_id"] for r in inc.conversations.select("conv_id").collect()} - old_ids
    for r in inc.new_pairs.collect():
        assert r["conv_id_a"] in new_ids or r["conv_id_b"] in new_ids


def test_incremental_replay_is_noop(spark, split_corpus):
    """Re-appending already-ingested transcripts changes nothing (the
    anti-join replay guard)."""
    old_tr, _, _ = split_corpus
    prev = run_pipeline(old_tr)
    inc = incremental_update(
        prev.conversations,
        prev.representatives,
        prev.idf,
        prev.postings,
        prev.clusters,
        old_tr,  # replay of the same batch
    )
    assert inc.metrics["n_new_conversations"] == 0
    assert _partition(inc.clusters) == _partition(prev.clusters)


TRANSCRIPT_COLS = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _tr(spark, rows):
    """One-turn transcripts from (conv_id, text) pairs."""
    import datetime

    ts = datetime.datetime(2025, 1, 1)
    return spark.createDataFrame(
        [(cid, 0, "user", text, "", ts) for cid, text in rows], TRANSCRIPT_COLS
    )


def test_localized_reclustering_emits_o_affected_delta(spark):
    """VERDICT r4 #1: a batch re-clusters ONLY the components its edges
    touch, and clusters_delta holds ONLY added/relabeled rows. A bridging
    conversation merges clusters A and B: the losing cluster's members
    are relabeled (in the delta), the winning cluster's members and the
    untouched cluster C are NOT in the delta, and the full frame still
    reconstructs exactly."""
    from address_match_recommend_spark.config import PipelineConfig

    cfg = PipelineConfig(tau_hi=0.45, tau_lo=0.30)
    old = _tr(spark, [
        ("a1", "alpha bravo charlie delta office"),
        ("a2", "alpha bravo charlie delta office tower"),
        ("b1", "echo foxtrot golf hotel north"),
        ("b2", "echo foxtrot golf hotel north annex"),
        ("c1", "india juliet kilo lima plaza"),
        ("c2", "india juliet kilo lima plaza wing"),
    ])
    prev = run_pipeline(old, cfg)
    assert _partition(prev.clusters) == {
        frozenset({"a1", "a2"}), frozenset({"b1", "b2"}), frozenset({"c1", "c2"})
    }

    # n1 shares 4 blockable tokens with each of A and B, none with C
    batch = _tr(spark, [
        ("n1", "alpha bravo charlie delta echo foxtrot golf hotel"),
    ])
    inc = incremental_update(
        prev.conversations, prev.representatives, prev.idf,
        prev.postings, prev.clusters, batch, cfg,
    )
    assert _partition(inc.clusters) == {
        frozenset({"a1", "a2", "b1", "b2", "n1"}), frozenset({"c1", "c2"})
    }
    delta = {(r["conv_id"], r["entity_id"]) for r in inc.clusters_delta.collect()}
    # delta: the new conversation + the losing cluster's relabeled rows —
    # never the winning cluster's unchanged rows, never untouched C
    assert delta == {("n1", "a1"), ("b1", "a1"), ("b2", "a1")}
    # the CC subgraph saw only A ∪ B (4 prior members), not the corpus
    assert inc.metrics["n_touched_members"] == 4
    # prev ⊖ delta ∪ delta reconstructs: every conv labeled exactly once
    assert inc.clusters.count() == 7
    assert inc.clusters.select("conv_id").distinct().count() == 7


def test_append_to_one_cluster_leaves_rest_unwritten(spark, split_corpus):
    """The generated-corpus variant: appending duplicates of TWO old
    entities plus six new entities must bound the delta by (new convs +
    members of the touched clusters) — the other old clusters never
    appear in clusters_delta."""
    old_tr, new_tr, _ = split_corpus
    prev = run_pipeline(old_tr)
    inc = incremental_update(
        prev.conversations, prev.representatives, prev.idf,
        prev.postings, prev.clusters, new_tr,
    )
    n_prev = prev.clusters.count()
    n_new = inc.metrics["n_new_conversations"]
    n_delta = inc.clusters_delta.count()
    n_touched = inc.metrics["n_touched_members"]
    # every delta row is a new conv or a member of a touched cluster
    assert n_delta <= n_new + n_touched
    # the batch touches 2 old clusters out of 14 — the subgraph must be
    # a small fraction of the prior corpus, not O(corpus)
    assert n_touched < n_prev / 2, (n_touched, n_prev)
    # old rows outside touched clusters never appear in the delta
    old_ids_in_delta = (
        inc.clusters_delta.join(
            inc.new_conversations.select("conv_id"), "conv_id", "left_anti"
        ).count()
    )
    assert old_ids_in_delta <= n_touched


def test_unseen_hot_token_capped_by_cumulative_df(spark):
    """ADVICE r4: a token absent from the bootstrap IDF but hot ACROSS
    batches must leave the blockable band once its CUMULATIVE df (batch +
    already-indexed postings) crosses max_block_df — judging the cap
    against batch-local df alone would re-admit it every batch and grow
    its posting list without bound."""
    from address_match_recommend_spark.config import PipelineConfig

    # string token domain: the assertions below look up tokens by TEXT in
    # the bootstrap state (hash_token_features would store xxhash64 ids)
    cfg = PipelineConfig(
        max_block_df=3, min_shared_tokens=1, hash_token_features=False
    )
    old = _tr(spark, [
        ("o1", "quiet corpus seed one"),
        ("o2", "quiet corpus seed two"),
    ])
    prev = run_pipeline(old, cfg)
    assert "hotzz" not in {r["token"] for r in prev.idf.select("token").collect()}

    batch0 = _tr(spark, [
        ("m1", "hotzz uniq1a uniq1b"),
        ("m2", "hotzz uniq2a uniq2b"),
    ])
    inc0 = incremental_update(
        prev.conversations, prev.representatives, prev.idf,
        prev.postings, prev.clusters, batch0, cfg,
    )
    # batch df 2 ≤ cap 3 → indexed, intra-batch pair forms on it
    assert inc0.new_postings.filter(F.col("token") == "hotzz").count() == 2
    assert {tuple(r) for r in inc0.new_pairs.collect()} == {("m1", "m2")}

    batch1 = _tr(spark, [
        ("m3", "hotzz uniq3a uniq3b"),
        ("m4", "hotzz uniq4a uniq4b"),
    ])
    inc1 = incremental_update(
        inc0.conversations, inc0.representatives, prev.idf,
        inc0.postings, inc0.clusters, batch1, cfg,
    )
    # cumulative df = 2 indexed + 2 in batch = 4 > cap 3 → the token
    # leaves the band: no new postings, no pair explosion against the
    # already-indexed hotzz conversations
    assert inc1.new_postings.filter(F.col("token") == "hotzz").count() == 0
    assert inc1.new_pairs.count() == 0


def test_hot_token_pairs_match_batch_operator(spark):
    """The stream path pairs by the batch path's rules: on a corpus whose
    hot tokens' df crosses salt_bucket, the incremental pairs equal the
    batch candidate_pairs over the same postings, restricted to pairs
    with a new endpoint — pairs whose shared tokens are all hot form only
    inside one salt sub-block, whichever path generated them."""
    from address_match_recommend_spark.config import PipelineConfig
    from address_match_recommend_spark.operators.blocking import candidate_pairs

    cfg = PipelineConfig(salt_bucket=5, max_block_df=500)
    old = _tr(spark, [(f"o{i:02d}", f"hotaa hotbb olduniq{i:02d}") for i in range(20)])
    new = _tr(spark, [(f"n{i:02d}", f"hotaa hotbb newuniq{i:02d}") for i in range(6)])
    prev = run_pipeline(old, cfg)
    inc = incremental_update(
        prev.conversations, prev.representatives, prev.idf,
        prev.postings, prev.clusters, new, cfg,
    )
    got = {tuple(r) for r in inc.new_pairs.collect()}
    batch = {tuple(r) for r in candidate_pairs(inc.postings, cfg).collect()}
    want = {p for p in batch if p[0].startswith("n") or p[1].startswith("n")}
    assert got == want
    # the hot tokens really split the new-endpoint pairs across sub-blocks
    assert 0 < len(want) < 6 * 20 + 6 * 5 / 2
