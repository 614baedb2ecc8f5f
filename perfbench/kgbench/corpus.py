"""Seeded benchmark inputs.

A seed picks a window of consecutive conversation indices; the rows
themselves come from the engine's public generator
(``sources.transcripts.turn_row`` / ``conv_length``), so the corpus keeps
its shape: Zipf-hot entity aliases and one conversation in 40 being ~50x
longer. A window is a multiple of 40 conversations, so it holds a fixed
number of long ones. A long one alone ranges from 400 to 3,200 turns, so
the seed draws window starts until the window's turn count falls in the
workload's range: every seed then ingests about the same amount of input.

Streamed epochs are the 8-conversation blocks that follow the window,
skipping any block that holds a long conversation: one long conversation
would make its epoch several times the size of the others.

The seed also picks the query texts and the delete targets. Inputs are
landed as parquet with pyarrow (no Spark job), so the program under test
reads a real table and pays nothing for how the benchmark made it.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from typing import List, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from context_aware_rag_spark.functions.extractor import ENTITY_GROUPS, RELATION_KEYWORDS
from context_aware_rag_spark.sources.transcripts import conv_length, turn_row

# serve_mix base KG: one long conversation (conv_i % 40 == 7) per window
WINDOW_CONVS = 40
WINDOW_TURNS = (3_000, 3_400)
# batch_ingest bulk load: 7 long conversations, about 22k turns
BATCH_CONVS = 280
BATCH_TURNS = (21_000, 24_000)
EPOCH_CONVS = 8          # conversations landed per streaming epoch
LONG_TURNS = 400         # the shortest ~50x-long conversation
MAX_END = 30_000         # keeps generated timestamps in their identity range

Row = Tuple  # (conv_id, turn_idx, role, text, tool, ts)

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def conv_rows(convs: Sequence[int]) -> List[Row]:
    """All turns of the given conversation indices, in (conv, turn) order."""
    return [turn_row(c, t) for c in convs for t in range(conv_length(c))]


@dataclass(frozen=True)
class Inputs:
    """Everything a workload needs, derived from one seed."""

    seed: int
    base_convs: Tuple[int, ...]
    epoch_convs: Tuple[Tuple[int, ...], ...] = ()
    queries: Tuple[str, ...] = ()
    delete_targets: Tuple[str, ...] = ()
    base_rows: List[Row] = field(default_factory=list, compare=False)

    def digest(self) -> str:
        """sha256 over every generated row and choice: equal digests mean
        the same inputs."""
        h = hashlib.sha256()
        for r in self.base_rows:
            h.update(repr(r).encode())
        for part in (self.epoch_convs, self.queries, self.delete_targets):
            h.update(repr(part).encode())
        return h.hexdigest()


def _query_text(rng: np.random.Generator) -> str:
    groups = list(ENTITY_GROUPS.values())
    rels = list(RELATION_KEYWORDS)
    g1, g2 = rng.choice(len(groups), size=2, replace=False)
    a1 = groups[g1][1][int(rng.integers(0, len(groups[g1][1])))]
    a2 = groups[g2][1][int(rng.integers(0, len(groups[g2][1])))]
    return f"what did {a1} say about how {a1} {rels[int(rng.integers(0, len(rels)))]} {a2}"


def _epoch_windows(first: int, n_epochs: int) -> Tuple[Tuple[int, ...], ...]:
    """The first ``n_epochs`` blocks of ``EPOCH_CONVS`` conversations from
    ``first`` on that hold no long conversation."""
    epochs: List[Tuple[int, ...]] = []
    c = first
    while len(epochs) < n_epochs:
        block = tuple(range(c, c + EPOCH_CONVS))
        if all(conv_length(i) < LONG_TURNS for i in block):
            epochs.append(block)
        c += EPOCH_CONVS
    return tuple(epochs)


def make_inputs(seed: int, n_convs: int = WINDOW_CONVS, turns: Tuple[int, int] = WINDOW_TURNS,
                n_epochs: int = 0, n_queries: int = 0, n_deletes: int = 0) -> Inputs:
    """Pick the base window of ``n_convs`` conversations holding ``turns``
    turns (and epoch windows, queries, delete targets) from ``seed``.
    Epoch windows follow the base window, so streamed conversations never
    collide with the base KG's."""
    rng = np.random.default_rng(seed)
    lengths = {}
    while True:
        start = int(rng.integers(0, MAX_END - n_convs - 40 * EPOCH_CONVS))
        total = 0
        for c in range(start, start + n_convs):
            if c not in lengths:
                lengths[c] = conv_length(c)
            total += lengths[c]
        if turns[0] <= total <= turns[1]:
            break
    base = tuple(range(start, start + n_convs))
    epochs = _epoch_windows(start + n_convs, n_epochs)
    queries = tuple(_query_text(rng) for _ in range(n_queries))
    victims = rng.permutation(len(base))[:n_deletes]
    deletes = tuple(f"conv{base[int(i)]:05d}" for i in victims)
    return Inputs(
        seed=seed,
        base_convs=base,
        epoch_convs=epochs,
        queries=queries,
        delete_targets=deletes,
        base_rows=conv_rows(base),
    )


def land(rows: Sequence[Row], path: str, n_files: int) -> str:
    """Write ``rows`` as a parquet directory of ``n_files`` files (split at
    conversation boundaries, so no conversation spans two files) and
    return its path."""
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in _ARROW_SCHEMA]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, _ARROW_SCHEMA)],
        schema=_ARROW_SCHEMA,
    )
    bounds = _file_bounds([r[0] for r in rows], n_files)
    for i, (lo, hi) in enumerate(bounds):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))
    return path


def _file_bounds(conv_ids: Sequence[str], n_files: int) -> List[Tuple[int, int]]:
    """Row ranges of about equal size, each cut at a conversation change."""
    n = len(conv_ids)
    if n == 0:
        return [(0, 0)]
    cuts = [0]
    for k in range(1, n_files):
        i = max(cuts[-1], k * n // n_files)
        while 0 < i < n and conv_ids[i] == conv_ids[i - 1]:
            i += 1
        if cuts[-1] < i < n:
            cuts.append(i)
    cuts.append(n)
    return list(zip(cuts[:-1], cuts[1:]))
