"""Incremental append — the reference's write path, distributed.

The reference's ``ImportAddr`` (/root/reference/core/similarity.go:551-581)
parses one new address, inserts it, and sets the Bloom filter; new records
join the corpus without rescoring everything. At 10^12 turns the same
property is essential: an appended batch of transcripts must NOT trigger a
full re-canonicalize / re-score of the old corpus.

Strategy (anti-join + re-cluster of affected blocks, SURVEY §2.10):

1. Canonicalize ONLY the new batch; anti-join on conv_id drops replays.
2. Exact duplicates of existing canonical texts (hash join on text_hash)
   link straight to their representative — zero scoring, the Bloom fast
   path generalized.
3. Genuinely new conversations are tokenized and weighted with the
   EXISTING IDF dictionary (unseen tokens get MissingIdf, the reference's
   own semantics, /root/reference/core/similarity.go:19). The corpus IDF
   is NOT refit per batch — identical to the reference, which computes IDF
   from the stored corpus, and it keeps old vectors valid. Refit on a
   cadence (e.g. after corpus grows 2×) with a full run.
4. Candidate pairs come from the batch path's own operator,
   ``operators.blocking.candidate_pairs(old ∪ new postings, new=new
   postings)``: the new side joins the all side on salted (token, salt)
   keys, so only blocks CONTAINING a new conversation produce pairs and
   the old corpus's pairs are never regenerated. Salting, the true
   shared-token count and the single-salted bypass budget are the batch
   path's: a pair whose shared tokens are all hot forms only inside one
   salt sub-block, on either path.
5. Re-clustering is LOCALIZED to components the batch touches (round 5):
   the prior clustering of an entity re-enters as star edges
   (conv_id → entity_id, connectivity-equivalent to its full old edge
   set) ONLY for entities that contain an endpoint of a new edge;
   connected components runs on that bounded subgraph and the result is
   a clusters DELTA — rows for the new conversations plus touched-cluster
   members whose label changed. Everything else inherits its label
   without being read, recomputed, or rewritten. Correct because a
   component's label (min conv_id over the component) can only change if
   an edge path reaches it, and every new path enters through a new-edge
   endpoint by construction.

Every input here is a checkpointed stage of the previous run
(conversations, representatives, idf, postings, clusters) — the
incremental job reads the ledger, never the old raw turns.

Every frame read more than once goes through ``materialize`` rather
than ``persist``, as ``run_pipeline``'s stages do. Two reasons, both
fixed per-batch costs independent of batch size:

- ``persist`` caches data but keeps the lineage, so every later action
  re-plans the whole accumulated DAG driver-side (materialize.py).
- A persisted frame stays in the session's cache manager until someone
  unpersists it, and nothing here can do so safely (the caller reads the
  result frames after return): a long-lived streaming session would
  gain seven cache entries per batch. Checkpointed blocks belong to
  their RDD and are released when it is garbage-collected.

``cfg.reliable_checkpoint`` still applies (materialize.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig
from ..functions.tokenize import explode_tokens
from ..materialize import materialize
from ..operators.blocking import candidate_pairs, postings as build_postings
from ..operators.canonicalize import canonicalize
from ..operators.clustering import connected_components
from ..operators.dedup import dedup_exact
from ..operators.scoring import score_pairs
from ..operators.tfidf import tfidf_vectors


@dataclass
class IncrementalResult:
    conversations: DataFrame  # full updated corpus
    representatives: DataFrame
    postings: DataFrame  # full updated inverted index
    new_pairs: DataFrame
    scored: DataFrame
    clusters: DataFrame  # full updated clustering
    metrics: dict
    # batch DELTAS (what this update ADDED, disjoint from the prev state)
    # — streaming/incremental.py persists these per micro-batch instead
    # of rewriting the O(corpus) full frames
    new_conversations: DataFrame | None = None
    new_representatives: DataFrame | None = None
    new_postings: DataFrame | None = None
    #: rows whose entity label is new or CHANGED this batch — the clusters
    #: table's delta (O(affected), never O(corpus)); ``clusters`` above is
    #: prev ⊖ delta ∪ delta, for callers that want the full frame
    clusters_delta: DataFrame | None = None


def incremental_update(
    prev_conversations: DataFrame,
    prev_representatives: DataFrame,
    prev_idf: DataFrame,
    prev_postings: DataFrame,
    prev_clusters: DataFrame,
    new_transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
) -> IncrementalResult:
    cfg = cfg or PipelineConfig()

    # 1. canonicalize the batch only; drop conv_ids we already have
    new_conv = materialize(
        canonicalize(new_transcripts, cfg).join(
            prev_conversations.select("conv_id"), "conv_id", "left_anti"
        ),
        cfg,
        eager=False,  # materialized by the count below
    )
    n_new = new_conv.count()

    conversations = prev_conversations.unionByName(new_conv)

    # 2. exact duplicates of EXISTING texts → direct edge to representative
    prev_hashes = prev_representatives.select(
        "text_hash", F.col("conv_id").alias("rep_id")
    )
    dup_edges_old = (
        new_conv.select("conv_id", "text_hash")
        .join(prev_hashes, "text_hash")
        .select(
            F.least("conv_id", "rep_id").alias("conv_id_a"),
            F.greatest("conv_id", "rep_id").alias("conv_id_b"),
        )
    )
    # representatives among the new batch itself (intra-batch dups collapse)
    new_reps = materialize(
        dedup_exact(new_conv).join(
            prev_hashes.select("text_hash"), "text_hash", "left_anti"
        ),
        cfg,
    )
    representatives = prev_representatives.unionByName(new_reps)
    dup_edges_new = (
        new_conv.select("conv_id", "text_hash")
        .join(
            new_reps.select("text_hash", F.col("conv_id").alias("rep_id")),
            "text_hash",
        )
        .filter(F.col("conv_id") != F.col("rep_id"))
        .select(
            F.least("conv_id", "rep_id").alias("conv_id_a"),
            F.greatest("conv_id", "rep_id").alias("conv_id_b"),
        )
    )

    # 3. tokenize new reps; weight with the existing (broadcast) IDF —
    #    unseen tokens take cfg.missing_idf inside tfidf_vectors
    # Follow the bootstrap state's token-key domain: a pipeline run under
    # cfg.hash_token_features leaves prev_idf/prev_postings keyed by
    # xxhash64(token) (int64 feature ids, plans/pipeline.py) — hash every
    # token stream this updater derives (the batch's AND the re-exploded
    # old-partner side below) identically, so all joins against prior
    # state stay type- and identity-consistent whatever cfg the bootstrap
    # used.
    from pyspark.sql.types import LongType

    state_hashed = isinstance(prev_idf.schema["token"].dataType, LongType)

    def _domain(tok: DataFrame) -> DataFrame:
        return (
            tok.withColumn("token", F.xxhash64("token")) if state_hashed else tok
        )

    new_tokens = materialize(_domain(explode_tokens(new_reps, cfg)), cfg)
    new_vectors = tfidf_vectors(new_tokens, prev_idf, cfg)

    # Blocking IDF: tokens the old corpus never saw (e.g. the signature
    # vocabulary of a brand-new entity) must still block within the batch,
    # or duplicates arriving together could never pair. Their df is the
    # batch-local document frequency; their idf is MissingIdf.
    from ..operators.tfidf import document_frequency

    unseen_batch = document_frequency(new_tokens).join(
        prev_idf.select("token"), "token", "left_anti"
    )
    # Cumulative document frequency for unseen tokens (ADVICE r4): the
    # bootstrap-frozen IDF means a token outside the bootstrap vocabulary
    # stays "unseen" in EVERY batch; judging max_block_df against its
    # batch-local df alone re-admits a cross-batch-hot token every batch,
    # so its posting list accumulates unboundedly and the incremental
    # pair join explodes quadratically in it. Unseen tokens are indexed
    # by earlier batches through this very path, so their true running df
    # is batch df + occurrences already in prev_postings — max_block_df
    # applies to THAT, matching what a single-batch arrival of the same
    # conversations would have decided. (Already-written postings of a
    # token that crosses the cap stay on disk but generate no pairs: the
    # pair join is new-side ⋈ all, and the token leaves the new side.)
    prev_unseen_n = (
        prev_postings.join(
            F.broadcast(unseen_batch.select("token")), "token", "left_semi"
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("prev_n"))
    )
    unseen_df = (
        unseen_batch.join(prev_unseen_n, "token", "left")
        .withColumn("df", F.col("df") + F.coalesce(F.col("prev_n"), F.lit(0)))
        .drop("prev_n")
        # Index unseen tokens IMMEDIATELY, even at cumulative df 1 — the
        # reference inserts every record's tokens into the index on
        # ImportAddr (/root/reference/core/similarity.go:551-581).
        # min_block_df assumes a static corpus, where a df-1 token can
        # never produce a pair; here a FUTURE batch can arrive sharing
        # the token — dropping it would silently lose the pair and make
        # recall depend on how arrivals were split into micro-batches
        # (pinned by the streaming split-invariance test). Clamping df up
        # to min_block_df admits the token to the blockable band; the
        # ``clamped`` flag lets the per-conversation rarest-token budget
        # prefer genuinely shared tokens over clamped singletons at equal
        # df (ADVICE r4 — operators/blocking.py orders on it).
        .withColumn("clamped", F.col("df") < F.lit(cfg.min_block_df))
        .withColumn("df", F.greatest(F.col("df"), F.lit(cfg.min_block_df)))
        .withColumn("idf", F.lit(float(cfg.missing_idf)))
    )
    blocking_idf = (
        prev_idf.select("token", "df", "idf")
        .withColumn("clamped", F.lit(False))
        .unionByName(unseen_df.select("token", "df", "idf", "clamped"))
    )

    # 4. pairs only from blocks containing a new conversation — the batch
    #    path's operator, new side ⋈ all side (operators/blocking.py).
    #    new_post is read by the all-side union, by both sides of the
    #    pair join and by the caller's delta write: materialize it once.
    new_post = materialize(build_postings(new_tokens, blocking_idf, cfg), cfg)
    all_post = materialize(prev_postings.unionByName(new_post), cfg)
    pairs = candidate_pairs(all_post, cfg, new=new_post)

    # old-side vectors: only partners that actually appear in a pair
    partner_ids = (
        pairs.select(F.col("conv_id_a").alias("conv_id"))
        .unionByName(pairs.select(F.col("conv_id_b").alias("conv_id")))
        .distinct()
        .join(new_reps.select("conv_id"), "conv_id", "left_anti")
    )
    old_partner_tokens = _domain(
        explode_tokens(
            prev_representatives.join(partner_ids, "conv_id", "left_semi"), cfg
        )
    )
    old_vectors = tfidf_vectors(old_partner_tokens, prev_idf, cfg)
    vectors = materialize(new_vectors.unionByName(old_vectors), cfg)

    scored = score_pairs(pairs, vectors, representatives, cfg)
    match_edges = scored.filter(F.col("is_match")).select("conv_id_a", "conv_id_b")

    # 5. LOCALIZED re-clustering (round 5 — VERDICT r4 'What's wrong' #1):
    #    the previous design unioned star edges of ALL prior clusters and
    #    re-ran connected components over the full corpus every batch —
    #    O(corpus) clustering work and an O(corpus) clusters rewrite per
    #    micro-batch, where the reference's ImportAddr analog is O(record)
    #    (/root/reference/core/similarity.go:551-581). Only components the
    #    batch's edges TOUCH re-cluster now; everything else inherits its
    #    label without being read into the CC job or rewritten.
    new_edges = materialize(
        match_edges.unionByName(dup_edges_old).unionByName(dup_edges_new), cfg
    )
    endpoints = (
        new_edges.select(F.col("conv_id_a").alias("conv_id"))
        .unionByName(new_edges.select(F.col("conv_id_b").alias("conv_id")))
        .distinct()
    )
    touched_entities = (
        prev_clusters.join(endpoints, "conv_id", "left_semi")
        .select("entity_id")
        .distinct()
    )
    # every member of a touched cluster enters the subgraph: a merge can
    # relabel ALL of them, and the merged label (component-min conv_id)
    # must be the min over the full membership of every cluster involved
    touched_members = materialize(
        prev_clusters.join(touched_entities, "entity_id", "left_semi"), cfg
    )
    star_edges = touched_members.filter(
        F.col("conv_id") != F.col("entity_id")
    ).select(
        F.col("conv_id").alias("conv_id_a"), F.col("entity_id").alias("conv_id_b")
    )
    components = connected_components(
        new_edges.unionByName(star_edges), cfg=cfg
    )

    # clusters DELTA: first labels for the new conversations + touched
    # members whose label CHANGED. Untouched/unchanged rows are never
    # emitted — the per-batch clusters write is O(affected), not O(corpus).
    new_assign = (
        new_conv.select("conv_id")
        .join(components, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("entity_id"), F.col("conv_id")).alias("entity_id"),
        )
    )
    old_changed = (
        touched_members.withColumnRenamed("entity_id", "prev_entity")
        .join(components, "conv_id")
        .filter(F.col("entity_id") != F.col("prev_entity"))
        .select("conv_id", "entity_id")
    )
    clusters_delta = new_assign.unionByName(old_changed)
    clusters = prev_clusters.join(
        clusters_delta.select("conv_id"), "conv_id", "left_anti"
    ).unionByName(clusters_delta)

    return IncrementalResult(
        conversations=conversations,
        representatives=representatives,
        postings=all_post,
        new_pairs=pairs,
        scored=scored,
        clusters=clusters,
        metrics={
            "n_new_conversations": n_new,
            # localized-clustering observability (both frames are
            # materialized and O(affected) by design): a touched-member
            # count approaching the corpus size means the batch bridged
            # nearly every cluster — or a blocking bug admitted one
            "n_new_edges": new_edges.count(),
            "n_touched_members": touched_members.count(),
        },
        new_conversations=new_conv,
        new_representatives=new_reps,
        new_postings=new_post,
        clusters_delta=clusters_delta,
    )
