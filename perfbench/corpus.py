"""Seeded workload inputs, generated once per (workload, seed) and cached.

Generation runs in pandas and is never part of a timed region or of
``setup_s``; a cached corpus is read back instead of regenerated.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields

import numpy as np
import pandas as pd

from address_match_recommend_spark.datagen import Corpus, generate_corpus, write_corpus


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" or "stream"
    n_entities: int
    vocab_size: int
    #: stream only: share of conversations folded in by the bootstrap
    bootstrap_share: float = 0.0
    #: stream only: turns per micro-batch (whole conversations, in seeded
    #: order), so every batch carries about as many turns whatever the seed
    batch_turns: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        # A small vocabulary makes mid-frequency tokens shared by unrelated
        # conversations: most candidate pairs never match, so blocking and
        # the scoring dot-join dominate while the token stream stays small.
        Workload("batch-dense", "batch", n_entities=300, vocab_size=2000),
        # The write path: bootstrap on a seeded share of the conversations,
        # then micro-batches of the rest in seeded order, so batches carry
        # duplicates of entities already in state.
        Workload(
            "stream", "stream", n_entities=300, vocab_size=4000,
            bootstrap_share=0.8, batch_turns=1000,
        ),
    )
}


def load(workload: Workload, seed: int, cache_dir: str) -> Corpus:
    """The workload's corpus for ``seed``: read from ``cache_dir`` when an
    earlier run generated it, otherwise generated and cached."""
    path = os.path.join(
        cache_dir,
        f"{workload.name}-{workload.n_entities}x{workload.vocab_size}-seed{seed}",
    )
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        write_corpus(
            generate_corpus(n_entities=workload.n_entities, seed=seed,
                            vocab_size=workload.vocab_size),
            path,
        )
        open(done, "w").close()
    return Corpus(**{
        f.name: pd.read_parquet(os.path.join(path, f"{f.name}.parquet"))
        for f in fields(Corpus)
    })


def stream_split(
    transcripts: pd.DataFrame, workload: Workload, seed: int
) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Bootstrap turns and the ordered micro-batches of the remaining
    conversations, both chosen by ``seed``. A conversation joins the batch
    in which the turns before it (in that order) fall."""
    convs = np.array(sorted(transcripts["conv_id"].unique()))
    np.random.RandomState(seed).shuffle(convs)
    n_boot = int(len(convs) * workload.bootstrap_share)
    boot = transcripts[transcripts["conv_id"].isin(convs[:n_boot])]
    rest = convs[n_boot:]
    turns = transcripts.groupby("conv_id").size().reindex(rest).to_numpy()
    batch_of = (np.cumsum(turns) - turns) // workload.batch_turns
    batches = [
        transcripts[transcripts["conv_id"].isin(rest[batch_of == b])]
        for b in range(int(batch_of.max()) + 1)
    ]
    return boot, batches
