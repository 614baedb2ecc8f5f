"""Output checks. Pure Python over collected rows, so they are testable
without Spark; the workloads collect what each check needs."""

from __future__ import annotations

from typing import Iterable, List, Sequence, Set, Tuple

from context_aware_rag_spark.oracle.reference_oracle import triple_prf

TRIPLE_COLS = ("conv_id", "subj_name", "subj_type", "pred", "obj_name", "obj_type")


class CheckFailed(Exception):
    """An output did not match what the reference semantics require."""


def check_triples(golden: Sequence[dict], produced: Sequence[dict], what: str) -> Tuple[float, float]:
    """Triple precision and recall vs the reference oracle must both be
    exactly 1.0 (both sides share the extractor)."""
    prec, rec, _ = triple_prf(golden, produced)
    if prec != 1.0 or rec != 1.0:
        raise CheckFailed(f"{what}: triple precision {prec:.6f} / recall {rec:.6f} vs oracle, want 1.0")
    return prec, rec


def check_query(sources: Iterable[str], live_docs: Set[str], query: str) -> None:
    """A query returns at least one document, and every document it
    returns is still in the KG it read."""
    sources = list(sources)
    if not sources:
        raise CheckFailed(f"query {query!r} returned no documents")
    stale = sorted(set(sources) - live_docs)
    if stale:
        raise CheckFailed(f"query {query!r} returned deleted or unknown documents {stale[:5]}")


def check_deletes(deleted_convs: Sequence[str], deleted_ids: Set[str],
                  surviving_nodes: int, surviving_edges: int) -> None:
    """Every deleted conversation is in the removed-id set, and no node or
    edge endpoint of the final KG is a removed id."""
    missing = [c for c in deleted_convs if c not in deleted_ids]
    if missing:
        raise CheckFailed(f"delete did not remove documents {missing[:5]}")
    if surviving_nodes or surviving_edges:
        raise CheckFailed(
            f"after deletes {surviving_nodes} nodes and {surviving_edges} edges "
            "still touch a removed id"
        )


def check_chunk_index(deleted_convs: Sequence[str], stale_chunks: int) -> None:
    """After the deletes the served chunk index holds no chunk of a
    deleted conversation: each such chunk was among the removed ids."""
    if stale_chunks:
        raise CheckFailed(f"{stale_chunks} chunks of deleted documents {list(deleted_convs)[:5]} "
                          "are still served")


def check_edges(golden: Iterable[Tuple[str, str, str]], produced: Iterable[Tuple[str, str, str]],
                chunk_ids: Set[str], what: str) -> None:
    """The (src, dst, rel_type) edges other than SIMILAR equal the
    oracle's structural and predicate edges; every SIMILAR edge joins two
    distinct chunks of the same input."""
    produced = set(produced)
    similar = {e for e in produced if e[2] == "SIMILAR"}
    rest, golden = produced - similar, set(golden)
    if rest != golden:
        raise CheckFailed(f"{what}: {len(rest - golden)} edges not in the oracle, "
                          f"{len(golden - rest)} oracle edges missing")
    bad = [e for e in similar if e[0] == e[1] or e[0] not in chunk_ids or e[1] not in chunk_ids]
    if bad:
        raise CheckFailed(f"{what}: SIMILAR edges off the input's chunks {sorted(bad)[:3]}")


def rows_as_dicts(rows, cols: Sequence[str] = TRIPLE_COLS) -> List[dict]:
    return [dict(zip(cols, r)) for r in rows]
