"""Stage 5/6 — blocking: inverted index → candidate pairs.

The reference blocks by administrative region: ``buildCacheKey`` =
"province-city(-district)" (/root/reference/core/similarity.go:658-668) and
partition-pruned scans LoadAddrsPC/PCD (/root/reference/models/persister.go:
100-121), then scores the query against EVERY record in the block (an
O(N·Q) nested loop, /root/reference/core/similarity.go:74-79).

Here blocking is a DataFrame-materialized inverted index — posting lists
token → conv_id — and candidate generation is a posting-list self-join
(`a.conv_id < b.conv_id` triangular pruning), the standard distributed
sparse-similarity design. The incremental write path joins a batch's
postings to the whole index through the same operator, so one rule
decides what counts as a candidate, as the reference's insert and lookup
share one index. Three explicit skew/scale controls (north rule):

1. **df cap** — tokens with df > max_block_df never block (they carry ~zero
   IDF and would quadratically explode the join). Tokens with df < 2
   cannot produce a pair.
2. **per-conversation token budget** — each conversation blocks on at most
   its K rarest tokens, bounding per-record pair fan-out.
3. **salting** — posting lists longer than salt_bucket are split into
   ceil(df/salt_bucket) random sub-blocks; pairs are generated within a
   sub-block. This trades a small recall loss on mid-frequency tokens for
   a hard bound (salt_bucket²/2) on the per-key join fan-out — at 10^12
   turns an unsalted 10^6-long posting list would emit 5·10^11 pairs from
   one key. Duplicate records share many rare tokens, so pair recall
   survives (verified by the F1 gate).

AQE skew-join splitting remains enabled as the runtime backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..config import PipelineConfig


def postings(
    tokens: DataFrame,
    idf: DataFrame,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """(token, conv_id, df) — the inverted index, restricted to blockable
    tokens (min_block_df ≤ df ≤ max_block_df), at most
    max_block_tokens_per_conv rarest tokens per conversation."""
    cfg = cfg or PipelineConfig()
    # ``clamped`` (optional, plans/incremental.py): marks unseen tokens
    # whose df was clamped UP into the blockable band. At equal df the
    # budget window below prefers un-clamped tokens — genuinely shared
    # vocabulary — over clamped singletons (ADVICE r4: clamped df-1
    # tokens competing at df == min_block_df could displace true df-2
    # blockable tokens from the per-conversation budget).
    has_clamped = "clamped" in idf.columns
    blockable = idf.filter(
        (F.col("df") >= cfg.min_block_df) & (F.col("df") <= cfg.max_block_df)
    ).select("token", "df", *(["clamped"] if has_clamped else []))
    # No forced broadcast: `blockable` is O(vocab) — tiny here, but a
    # heavy-tailed 10^12-turn vocabulary makes the df∈[2,200] band the
    # BULK of the vocab. AQE broadcasts automatically while it fits under
    # autoBroadcastJoinThreshold and falls back to a shuffled join beyond.
    # (The conv_id-repartition fusion used in tfidf_vectors was measured
    # here and REVERTED: unlike the vectors stage — whose doc-length
    # window re-shuffles the full counted frame — the budget window here
    # re-shuffles only the df-filtered postings (~5% of the token rows),
    # while pre-partitioning by conv_id forfeits the distinct's map-side
    # partial dedup on the big first exchange. Measured a wash at 20k
    # entities, a likely loss at scale.)
    post = tokens.select("conv_id", "token").distinct().join(blockable, "token")
    if cfg.max_block_tokens_per_conv:
        order = [F.asc("df")]
        if has_clamped:
            order.append(F.asc("clamped"))  # false (true df) sorts first
        order.append(F.asc("token"))
        w = Window.partitionBy("conv_id").orderBy(*order)
        post = (
            post.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= cfg.max_block_tokens_per_conv)
            .drop("rk")
        )
    return post.drop("clamped") if has_clamped else post


def candidate_pairs(
    post: DataFrame,
    cfg: PipelineConfig | None = None,
    new: DataFrame | None = None,
) -> DataFrame:
    """(conv_id_a, conv_id_b) distinct, a < b.

    The one candidate-pair operator of both write paths. ``new=None`` is
    the batch path: a self-join of ``post`` on ``a.conv_id < b.conv_id``.
    ``new`` (the incremental path, plans/incremental.py) holds a batch's
    postings and ``post`` all postings (old ∪ new); the new side is then
    joined to the all side on ``a.conv_id != b.conv_id``, so only blocks
    containing a new conversation produce pairs. Both paths salt, count
    and budget by the same rules below.

    The all side is restricted to the new side's tokens, keeping the
    per-batch work O(batch blocks) rather than O(corpus). The shared-token
    count stays exact: every pair has a new endpoint, whose budgeted token
    set lies inside those tokens. The all side also takes each token's df
    from the new side, not from its stored row: postings of a token the
    bootstrap IDF never saw carry the df of the batch that wrote them,
    and both sides must agree on ``n_salts`` to meet in one sub-block.

    Hot posting lists are salted: block key becomes (token, salt) with
    salt = pmod(xxhash64(conv_id), ceil(df / salt_bucket)) — deterministic
    per conv_id so both members of a sub-block agree on the key.

    ``min_shared_tokens`` semantics (round-2 fix of a real recall bug,
    round-3 fix of the resulting cost bug):
    the threshold counts **raw shared blockable tokens, pre-salt** — NOT
    shared (token, salt) keys. Counting post-salt keys undercounts pairs
    whose shared tokens land in different salt sub-blocks. Two rules:

    1. pair *generation* stays salted (the fan-out bound is untouched);
    2. a generated pair qualifies when its TRUE shared-token count meets
       the threshold. The count includes hot tokens (it is pre-salt), so
       a pair sharing one hot token plus any other blockable token passes
       threshold 2.

    The true count is computed INSIDE the join projection: each
    posting row carries its conversation's full budgeted token set as a
    sorted array of xxhash64 hashes (≤ max_block_tokens_per_conv longs,
    built by one window aggregate that reuses the postings stage's
    conv_id partitioning — no extra shuffle), and
    ``size(array_intersect(a.toks, b.toks))`` evaluates per matched row
    in whole-stage codegen. The threshold then filters BEFORE the
    distinct-pair aggregation. The earlier design — groupBy the raw
    matched rows into distinct pairs, then join the pair set back
    against unsalted postings on both sides and re-aggregate — paid two
    extra shuffles over |raw pairs| × tokens-per-conv rows; at 5k
    entities that is ~4.8M raw pairs pruned to a few hundred thousand,
    i.e. ~95% of the blocking stage's work spent counting pairs the
    threshold was about to discard. Array payload cost: ≤ K longs per
    posting row through the pair-gen shuffle — a constant factor on a
    stage whose fan-out is already salt-bounded, traded for removing a
    shuffle pair that grows with the (quadratic-ish) raw-pair count.

    Pairs sharing ONLY one salted hot token are admitted only under
    ``cfg.admit_single_salted`` (reference parity: one shared blocking
    key suffices, /root/reference/core/similarity.go:74-79). The round-2
    unconditional bypass re-admitted unbounded hot-token noise into the
    dominant-cost scoring stage — see the cost envelope on the config
    field; threshold now applies uniformly to the true count by default.
    """
    cfg = cfg or PipelineConfig()
    need_count = cfg.min_shared_tokens > 1

    def salted(p: DataFrame) -> DataFrame:
        n_salts = F.greatest(
            F.ceil(F.col("df") / F.lit(cfg.salt_bucket)).cast("int"), F.lit(1)
        )
        cols = ["token", "salt", "conv_id"]
        if cfg.admit_single_salted:
            cols.append("n_salts")  # the bypass budget scales per sub-block
        s = (
            p.withColumn("n_salts", n_salts)
            .withColumn("salt", F.pmod(F.xxhash64("conv_id"), F.col("n_salts")).cast("int"))
            .select(*cols, (F.col("n_salts") > 1).alias("is_salted"))
        )
        if need_count:
            # Per-conversation budgeted token set, hashed to longs for a
            # compact array payload (≤ K × 8 bytes; collision odds within
            # one pair's ≤2K-element universe ~ K²/2⁶⁴ — immaterial). The
            # window partitions on conv_id, which postings() already
            # partitioned by for the per-conv budget → no additional
            # exchange. With the budget disabled the set is instead
            # truncated to the toks_payload_cap smallest hashes (bottom-k
            # sketch — undercount only; see config.py) so the payload
            # stays bounded (ADVICE r3).
            w = Window.partitionBy("conv_id")
            toks = F.sort_array(F.collect_set(F.xxhash64("token")).over(w))
            if not cfg.max_block_tokens_per_conv:
                toks = F.slice(toks, 1, cfg.toks_payload_cap)
            s = s.withColumn("toks", toks)
        return s

    if new is None:
        # Both sides of the self-join read this; materialized EAGERLY or
        # the first downstream action schedules both sides before either
        # has populated a lazy cache and the postings plan (tokenize +
        # distinct + window) runs twice concurrently. Checkpointing also
        # truncates lineage, so the self-join's driver-side planning sees
        # a LogicalRDD instead of the full upstream DAG (see
        # plans/pipeline.py ckpt docstring). cfg.reliable_checkpoint
        # upgrades this to a durable checkpoint (materialize.py) so
        # executor loss mid-join is survivable on a real cluster.
        from ..materialize import materialize

        a = b = materialize(salted(post), cfg, eager=True)
        pair_order = F.col("a.conv_id") < F.col("b.conv_id")
    else:
        new_df = new.select("token", "df").distinct()
        a = salted(new)
        b = salted(post.drop("df").join(new_df, "token"))
        pair_order = F.col("a.conv_id") != F.col("b.conv_id")

    matched = a.alias("a").join(
        b.alias("b"),
        on=[
            F.col("a.token") == F.col("b.token"),
            F.col("a.salt") == F.col("b.salt"),
            pair_order,
        ],
    )
    # new↔new pairs arrive in both join directions; least/greatest plus
    # one distinct folds them (a no-op reorder on the batch path)
    lo = F.least(F.col("a.conv_id"), F.col("b.conv_id"))
    hi = F.greatest(F.col("a.conv_id"), F.col("b.conv_id"))

    def pair_ids(m: DataFrame) -> DataFrame:
        return m.select(lo.alias("conv_id_a"), hi.alias("conv_id_b"))

    if need_count:
        # Pair-level true count, evaluated per matched row pre-aggregation
        # (every row of one pair yields the same value). a.is_salted ==
        # b.is_salted on a matched row (both derive from the token's df).
        qualifies = (
            F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
            >= cfg.min_shared_tokens
        )
        if cfg.admit_single_salted:
            # The bypass (pairs admitted on ONE shared salted key, below
            # the threshold) is budgeted per hot token: each (token,
            # salt) sub-block keeps at most ceil(budget / n_salts) such
            # pairs, so a token of any df admits ≤ budget + n_salts
            # bypass pairs (see config.single_salted_pair_budget). The
            # rank window partitions on (token, salt) — bounded at
            # salt_bucket²/2 rows — and orders by xxhash64(pair) so the
            # kept subset is deterministic. dense_rank, not row_number:
            # the incremental form sees a new↔new pair from both join
            # directions, and both rows must take one budget slot.
            # Threshold-qualified pairs are never budgeted.
            per_block_cap = F.greatest(
                F.ceil(
                    F.lit(cfg.single_salted_pair_budget) / F.col("a.n_salts")
                ).cast("int"),
                F.lit(1),
            )
            wb = Window.partitionBy(F.col("a.token"), F.col("a.salt")).orderBy(
                F.xxhash64(lo, hi), lo, hi
            )
            bypass = (
                matched.filter(~qualifies & F.col("a.is_salted"))
                .withColumn("rk", F.dense_rank().over(wb))
                .filter(F.col("rk") <= per_block_cap)
            )
            return (
                pair_ids(matched.filter(qualifies))
                .unionByName(pair_ids(bypass))
                .distinct()
            )
        matched = matched.filter(qualifies)
    return pair_ids(matched).distinct()
