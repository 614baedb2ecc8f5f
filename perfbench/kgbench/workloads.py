"""The two workloads. Each has a set-up phase (timed as ``setup_s``), a
measured closed loop of operations that runs for ``--seconds``, and an
output-check phase outside the timed region.

batch_ingest  bulk load, then one delete: ``run_pipeline`` with a workdir
              and node deduplication on (KNN SIMILAR edges off, the
              engine default) over a 280-conversation window, then
              ``delete_conversations`` on the loaded KG (the
              jobs/ingest_kg.py then jobs/delete_conversation.py shape).
serve_mix     one closed-loop client against a KG built in set-up; the
              op cycle is [query, stream epoch, delete, query, stream
              epoch, delete, finalize].
              A delete rewrites the nodes and edges tables the queries
              read and drops its removed chunks from the client's chunk
              index; the finalize assembles the streamed epochs into a
              graph with KNN SIMILAR edges.
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Tuple

from . import corpus
from .checks import (CheckFailed, TRIPLE_COLS, check_chunk_index, check_deletes, check_edges,
                     check_query, check_triples, rows_as_dicts)
from .tracing import Tracer

LANDING_ROUNDS = 3
# fixed conversations (not seed-dependent, none of them long) used to
# warm the JVM, codegen and Python workers before anything is timed
WARMUP_CONVS = (31_001, 31_002)


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool
    attrs: Dict = field(default_factory=dict)


@dataclass
class Run:
    """What a workload hands back to the runner."""

    setup_s: float
    ops: List[Op]
    checks_ok: bool
    cycle: Dict[str, int]   # op kind -> ops of that kind in one cycle of the loop
    primary: str            # the op kind whose median is op_p50_s
    ingest: str             # the op kind that adds turns, whose median is ingest_p50_s
    layer: Dict[str, float] = field(default_factory=dict)  # per-layer metrics (traced run)

    def kind_p50(self, kind: str) -> float:
        return statistics.median(op.latency_s for op in self.ops if op.kind == kind)

    def cycle_s(self) -> float:
        """Time for one cycle of the op mix, from per-kind medians: unlike a
        median over all ops, it does not shift with how many ops of each
        kind a run happened to fit in."""
        return sum(n * self.kind_p50(kind) for kind, n in self.cycle.items())


class Ctx:
    def __init__(self, spark, tracer: Tracer, work: str, inputs: corpus.Inputs, seconds: float,
                 cores: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.inputs = inputs
        self.seconds = seconds
        self.cores = cores
        self.ops: List[Op] = []
        self.measured = (0.0, 0.0)  # perf_counter window of the timed loop

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def run_op(self, kind: str, fn: Callable[[Dict], None], measured: bool = True) -> Op:
        """Time one operation; an exception or a failed check marks it
        failed (the traceback goes to stderr) and the loop goes on."""
        attrs: Dict = {}
        t0 = time.perf_counter()
        ok = True
        with self.tracer.span(f"op:{kind}", kind, phase="measure" if measured else "setup") as sp:
            try:
                fn(attrs)
            except Exception:  # an op failure is a result, not a crash
                ok = False
                traceback.print_exc(file=sys.stderr)
        op = Op(kind, time.perf_counter() - t0, ok, attrs)
        print(f"perfbench: {'op' if measured else 'warm-up'} {kind} "
              f"{op.latency_s:.3f}s{'' if ok else ' FAILED'}", file=sys.stderr)
        if sp is not None:
            sp["attrs"].update(attrs)
        if measured:
            self.ops.append(op)
        return op

    def loop(self, cycle: List[Tuple[str, Callable[[], Op]]], limit: int) -> None:
        """Closed loop: issue the next op when the previous one is done.
        One whole cycle always runs; after it, an op starts only if its
        kind's median latency so far says it ends within ``seconds``, so
        a run measures about ``seconds`` without a long overrun. At most
        ``limit`` ops run."""
        start = time.perf_counter()
        seen: Dict[str, List[float]] = {}
        for i, (kind, step) in enumerate(itertools.islice(itertools.cycle(cycle), limit)):
            if i >= len(cycle):
                expected = statistics.median(seen[kind])
                if time.perf_counter() - start + expected > self.seconds:
                    break
            seen.setdefault(kind, []).append(step().latency_s)
        self.measured = (start, time.perf_counter())


def _landing_rounds(ctx: Ctx, rows) -> tuple:
    """Land the base window ``LANDING_ROUNDS`` times; return (path of the
    last landing, median landing seconds)."""
    times = []
    for k in range(LANDING_ROUNDS):
        t0 = time.perf_counter()
        path = corpus.land(rows, ctx.path(f"landed_{k}"), ctx.cores)
        times.append(time.perf_counter() - t0)
    return path, statistics.median(times)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------- shared


def _delete(spark, nodes, edges, conv: str, out_dir: str):
    """``delete_conversations`` on one conversation, writing new nodes and
    edges tables under ``out_dir`` (the jobs/delete_conversation.py shape).
    Returns (conv, removed-id DataFrame, new nodes, new edges)."""
    from context_aware_rag_spark.operators.delete import delete_conversations

    res = delete_conversations(nodes, edges, [conv])
    res.nodes.write.parquet(os.path.join(out_dir, "nodes"))
    res.edges.write.parquet(os.path.join(out_dir, "edges"))
    return (conv, res.deleted_node_ids, spark.read.parquet(os.path.join(out_dir, "nodes")),
            spark.read.parquet(os.path.join(out_dir, "edges")))


def _check_delete(done: List[Tuple[str, object, object, object]]) -> None:
    """``done`` holds (conv, removed ids, nodes after, edges after) per
    delete: the conversation's id is removed and nothing left touches a
    removed id."""
    from pyspark.sql import functions as F

    for conv, removed, nodes, edges in done:
        ids = sorted(r[0] for r in removed.collect())
        bad_nodes = nodes.filter(F.col("node_id").isin(ids)).count()
        bad_edges = edges.filter(F.col("src").isin(ids) | F.col("dst").isin(ids)).count()
        check_deletes([conv], set(ids), bad_nodes, bad_edges)


def _counted(op: Op, done: list) -> Op:
    # untimed: how many ids the delete removed (traced metric)
    if op.ok:
        op.attrs["ids_removed"] = done[-1][1].count()
    return op


def _checked(what: str, checks: Callable[[], None]) -> bool:
    try:
        checks()
        return True
    except CheckFailed as e:
        print(f"CHECK FAILED: {what}: {e}", file=sys.stderr)
        return False


# ---------------------------------------------------------------- batch

BATCH_MAX_CYCLES = 8


def batch_inputs(seed: int) -> corpus.Inputs:
    return corpus.make_inputs(seed, n_convs=corpus.BATCH_CONVS, turns=corpus.BATCH_TURNS,
                              n_deletes=BATCH_MAX_CYCLES)


def batch_ingest(ctx: Ctx) -> Run:
    from context_aware_rag_spark.config import PipelineConfig
    from context_aware_rag_spark.oracle.reference_oracle import run_oracle
    from context_aware_rag_spark.plans.pipeline import run_pipeline
    from context_aware_rag_spark.sources.transcripts import read_transcripts

    spark = ctx.spark
    cfg = PipelineConfig(deduplicate_nodes=True)
    inputs = ctx.inputs
    kgs: List[str] = []
    done: list = []   # (conv, removed ids, nodes, edges) per delete
    dirs = itertools.count()

    def ingest_from(landed: str):
        def ingest(attrs: Dict) -> None:
            workdir = ctx.path(f"kg_{next(dirs)}")
            kgs.append(workdir)
            res = run_pipeline(spark, read_transcripts(spark, landed), cfg, workdir=workdir)
            attrs["metrics"] = res.metrics
        return ingest

    def delete_from(victims):
        def delete(attrs: Dict) -> None:
            workdir, conv = kgs[-1], next(victims)
            nodes = spark.read.parquet(os.path.join(workdir, "nodes"))
            edges = spark.read.parquet(os.path.join(workdir, "edges"))
            done.append(_delete(spark, nodes, edges, conv, os.path.join(workdir, "del")))
        return delete

    def cycle(landed: str, victims, measured: bool):
        return [
            ("ingest", lambda: ctx.run_op("ingest", ingest_from(landed), measured)),
            ("delete", lambda: _counted(ctx.run_op("delete", delete_from(victims), measured), done)),
        ]

    # warm-up, inside set-up: the first ingest in a JVM takes about 2x a
    # warm one
    t_setup = time.perf_counter()
    warm = corpus.land(corpus.conv_rows(WARMUP_CONVS), ctx.path("warmup_in"), ctx.cores)
    for _, step in cycle(warm, iter([f"conv{WARMUP_CONVS[0]:05d}"]), measured=False):
        step()
    warm_s = time.perf_counter() - t_setup
    rows = inputs.base_rows
    landed, landing_s = _landing_rounds(ctx, rows)
    setup_s = warm_s + landing_s
    kgs.clear()
    done.clear()

    ctx.loop(cycle(landed, iter(inputs.delete_targets), measured=True), limit=2 * BATCH_MAX_CYCLES)

    # ---- output checks (untimed) ----
    t_check = time.perf_counter()
    golden = run_oracle(rows).triples
    checks_ok = True
    ingests = [op for op in ctx.ops if op.kind == "ingest"]
    for op, workdir in zip(ingests, kgs):
        if not op.ok:
            continue
        got = spark.read.parquet(os.path.join(workdir, "triples_raw")).select(*TRIPLE_COLS).collect()
        if not _checked(f"batch ingest {workdir}",
                        lambda: check_triples(golden, rows_as_dicts(got), "triples_raw")):
            op.ok = checks_ok = False
        op.attrs["workdir_bytes"] = _dir_bytes(workdir)
    checks_ok &= _checked("batch deletes", lambda: _check_delete(done))
    print(f"perfbench: checks took {time.perf_counter() - t_check:.3f}s", file=sys.stderr)
    op_counts = {"turns_in": len(rows)}
    return Run(setup_s=setup_s, ops=ctx.ops, checks_ok=checks_ok,
               cycle={"ingest": 1, "delete": 1}, primary="ingest", ingest="ingest",
               layer=_layer_metrics(ctx, "ingest", op_counts))


# ---------------------------------------------------------------- serve

SERVE_MAX_CYCLES = 8
# a query keeps getting faster over the first four or five in a JVM: the
# second and third take about 1.3x a later one, and by how much varies
# from run to run
SERVE_WARM_QUERIES = 3


def serve_inputs(seed: int) -> corpus.Inputs:
    # and for the warm-up: SERVE_WARM_QUERIES queries, two epochs, one delete
    return corpus.make_inputs(seed, n_epochs=2 * SERVE_MAX_CYCLES + 2,
                              n_queries=2 * SERVE_MAX_CYCLES + SERVE_WARM_QUERIES,
                              n_deletes=2 * SERVE_MAX_CYCLES + 1)


def serve_mix(ctx: Ctx) -> Run:
    from context_aware_rag_spark.config import PipelineConfig
    from context_aware_rag_spark.functions.embedder import hash_embed
    from context_aware_rag_spark.operators.retrieval import assemble_context
    from context_aware_rag_spark.operators.similarity import with_text_embeddings
    from context_aware_rag_spark.oracle.reference_oracle import run_oracle
    from context_aware_rag_spark.plans.pipeline import run_pipeline
    from context_aware_rag_spark.sources.transcripts import read_transcripts
    from context_aware_rag_spark.streaming.ingest import finalize_graph, ingest_microbatch, read_stage
    from pyspark.sql import functions as F

    spark = ctx.spark
    cfg = PipelineConfig()
    # the stream finalize adds chunk-KNN SIMILAR edges, where the
    # reference runs update_knn; dedup stays off
    fin_cfg = PipelineConfig(similar_edges=True)
    inputs = ctx.inputs
    stream_dir = ctx.path("stream")

    epoch_rows = [corpus.conv_rows(c) for c in inputs.epoch_convs]
    landed, landing_s = _landing_rounds(ctx, inputs.base_rows)
    t_build = time.perf_counter()
    # bulk-load the KG the client reads (the jobs/ingest_kg.py shape) and
    # embed its chunks table once, as jobs/query_kg.py does
    kg = run_pipeline(spark, read_transcripts(spark, landed), cfg, workdir=ctx.path("kg"))
    chunks = kg.chunks.dropDuplicates(["chunk_id"]).select("chunk_id", "conv_id", "text")
    emb = with_text_embeddings(chunks, dim=cfg.embedding_dim).localCheckpoint()
    print(f"perfbench: KG built in {time.perf_counter() - t_build:.3f}s", file=sys.stderr)
    state = {"nodes": kg.nodes, "edges": kg.edges, "emb": emb,
             "live": {f"conv{c:05d}" for c in inputs.base_convs}}
    done: list = []        # (conv, removed ids, nodes, edges) per delete
    landed_epochs: List[int] = []
    finals: List[Tuple[str, int]] = []   # (workdir, epochs landed) per finalize
    queries = iter(inputs.queries)
    victims = iter(inputs.delete_targets)

    def query(attrs: Dict) -> None:
        text = next(queries)
        qvec = [float(x) for x in hash_embed([text], dim=cfg.embedding_dim)[0]]
        rows = assemble_context(state["emb"], state["edges"], state["nodes"], qvec, k=5).collect()
        check_query([r["source"] for r in rows], state["live"], text)

    def epoch(attrs: Dict) -> None:
        e = len(landed_epochs)
        t0 = time.perf_counter()
        path = corpus.land(epoch_rows[e], ctx.path("landing", f"epoch={e}"), 1)
        attrs["wait_s"] = time.perf_counter() - t0
        landed_epochs.append(e)
        ingest_microbatch(read_transcripts(spark, path), cfg, stream_dir, e)

    def delete(attrs: Dict) -> None:
        conv = next(victims)
        done.append(_delete(spark, state["nodes"], state["edges"], conv,
                            ctx.path("kgv", str(len(done)))))
        # delete_conversations rewrites nodes and edges only; the chunk
        # index takes the removed ids it returns (chunk ids among them),
        # as the reference's DETACH DELETE drops chunk nodes from its
        # vector index. Timed as part of the delete.
        removed = done[-1][1].select(F.col("node_id").alias("chunk_id"))
        emb = state["emb"].join(removed, "chunk_id", "left_anti").localCheckpoint()
        state.update(nodes=done[-1][2], edges=done[-1][3], emb=emb)
        state["live"].discard(conv)

    def finalize(attrs: Dict) -> None:
        workdir = ctx.path("final", str(len(finals)))
        finals.append((workdir, len(landed_epochs)))
        res = finalize_graph(spark, stream_dir, fin_cfg, workdir=workdir)
        attrs["metrics"] = res.metrics

    def op(kind: str, fn, measured: bool):
        if kind == "delete":
            return lambda: _counted(ctx.run_op(kind, fn, measured), done)
        return lambda: ctx.run_op(kind, fn, measured)

    def cycle(measured: bool):
        return [(k, op(k, fn, measured)) for k, fn in (
            ("query", query), ("epoch", epoch), ("delete", delete),
            ("query", query), ("epoch", epoch), ("delete", delete), ("finalize", finalize))]

    # warm-up, inside set-up: the first query, epoch and delete take
    # 1.3-2x a later one, the second epoch still about 1.1x. The finalize
    # is not warmed: its first run is within 10% of later ones.
    warm = dict(cycle(measured=False))
    for kind in ["query", "epoch"] * 2 + ["query"] * (SERVE_WARM_QUERIES - 2) + ["delete"]:
        warm[kind]()
    setup_s = landing_s + (time.perf_counter() - t_build)

    ctx.loop(cycle(measured=True), limit=7 * SERVE_MAX_CYCLES)

    # ---- output checks (untimed) ----
    t_check = time.perf_counter()
    checks_ok = all(o.ok for o in ctx.ops)
    stream_rows = [r for e in landed_epochs for r in epoch_rows[e]]
    got = read_stage(spark, stream_dir, "triples_raw").select(*TRIPLE_COLS).collect()
    checks_ok &= _checked("stream epochs", lambda: check_triples(
        run_oracle(stream_rows).triples, rows_as_dicts(got), "triples_raw"))
    checks_ok &= _checked("serve deletes", lambda: _check_delete(done))
    gone = [d[0] for d in done]
    checks_ok &= _checked("serve chunk index", lambda: check_chunk_index(
        gone, state["emb"].filter(F.col("conv_id").isin(gone)).count()))
    for (workdir, n), fin_op in zip(finals, [o for o in ctx.ops if o.kind == "finalize"]):
        if not fin_op.ok:
            continue
        oracle = run_oracle([r for e in landed_epochs[:n] for r in epoch_rows[e]])
        edges = spark.read.parquet(os.path.join(workdir, "edges")).select("src", "dst", "rel_type").collect()
        if not _checked(f"finalize {workdir}", lambda: check_edges(
                [(e["src"], e["dst"], e["rel_type"]) for e in oracle.edges],
                [tuple(r) for r in edges], {c["chunk_id"] for c in oracle.chunks}, "edges")):
            fin_op.ok = checks_ok = False
        fin_op.attrs["workdir_bytes"] = _dir_bytes(workdir)
    print(f"perfbench: checks took {time.perf_counter() - t_check:.3f}s", file=sys.stderr)
    n_epochs = max(1, len(landed_epochs))
    op_counts = {"turns_in": len(stream_rows) / n_epochs, "triples_out": len(got) / n_epochs}
    return Run(setup_s=setup_s, ops=ctx.ops, checks_ok=checks_ok,
               cycle={"query": 2, "epoch": 2, "delete": 2, "finalize": 1},
               primary="query", ingest="epoch",
               layer=_layer_metrics(ctx, "query", op_counts))


# workload -> (inputs from a seed, the workload itself)
WORKLOADS = {"batch_ingest": (batch_inputs, batch_ingest), "serve_mix": (serve_inputs, serve_mix)}


# ------------------------------------------------------------ per layer


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _layer_metrics(ctx: Ctx, primary: str, counts: Dict[str, float]) -> Dict[str, float]:
    """Per-layer numbers from the measured-phase spans. Stage layers are
    per op that runs pipeline stages (a bulk ingest or a finalize),
    service layers per op of their kind; a layer the workload bypasses
    reads 0."""
    tr = ctx.tracer
    if not tr.enabled:
        return {}
    tr.harvest()
    ops = [s for s in tr.spans if s["name"].startswith("op:") and s["attrs"].get("phase") == "measure"]
    by_kind = {k: [s for s in ops if s["layer"] == k]
               for k in ("ingest", "epoch", "query", "delete", "finalize")}
    staged = by_kind["ingest"] + by_kind["finalize"]
    n_staged = max(1, len(staged))

    stages = [c for s in staged for c in tr.children(s) if c["name"].startswith("stage:")]

    def stage_busy(layer: str) -> float:
        return sum(s["attrs"].get("wall_s") or 0.0 for s in stages if s["layer"] == layer) / n_staged

    def stage_rows(stage: str) -> float:
        return sum(s["attrs"].get("rows") or 0 for s in stages if s["attrs"].get("stage") == stage) / n_staged

    # merged_counts' total_merged over the distinct nodes before merging
    ratios = []
    for op in ctx.ops:
        m = op.attrs.get("metrics", {})
        nodes = m.get("nodes", {}).get("rows", 0)
        c = m.get("canonicalization")
        if nodes and c:
            ratios.append(c.get("total_merged", 0) / (nodes + c.get("merged_nodes", 0)))

    out = {
        "sources.turns_in": counts.get("turns_in", 0.0),
        "chunking.busy_s": stage_busy("chunking"),
        "extraction.busy_s": stage_busy("extraction"),
        "extraction.triples_out": stage_rows("triples_raw") if by_kind["ingest"] else counts.get("triples_out", 0.0),
        "linking.busy_s": stage_busy("linking"),
        "similarity.busy_s": stage_busy("similarity"),
        "similarity.edges_out": stage_rows("similar_edges"),
        "canonicalize.busy_s": stage_busy("canonicalize"),
        "canonicalize.merged_ratio": _mean(ratios),
        "materialize.busy_s": stage_busy("materialize"),
        "materialize.edges_out": stage_rows("edges"),
        "pipeline.lineage_s": sum(s.dur - (s["attrs"].get("wall_s") or 0.0) for s in stages) / n_staged,
        "pipeline.self_s": _mean(tr.self_time(s) for s in staged),
        "pipeline.workdir_bytes": _mean(op.attrs.get("workdir_bytes", 0) for op in ctx.ops
                                        if op.kind in ("ingest", "finalize")),
        "streaming.epoch_busy_s": _mean(s.dur - s["attrs"].get("wait_s", 0.0) for s in by_kind["epoch"]),
        "streaming.epoch_wait_s": _mean(s["attrs"].get("wait_s", 0.0) for s in by_kind["epoch"]),
        "streaming.jobs_per_epoch": _mean(tr.subtree(s, "jobs") for s in by_kind["epoch"]),
        "retrieval.busy_s": _mean(s.dur for s in by_kind["query"]),
        "retrieval.jobs_per_query": _mean(tr.subtree(s, "jobs") for s in by_kind["query"]),
        "delete.busy_s": _mean(s.dur for s in by_kind["delete"]),
        "delete.ids_removed": _mean(op.attrs.get("ids_removed", 0) for op in ctx.ops if op.kind == "delete"),
    }
    n_ops = max(1, len(ops))
    for key in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = sum(tr.subtree(s, key) for s in ops) / n_ops
    # the same statistic as the untraced op_p50_s, so the two subtract
    primary_lat = [op.latency_s for op in ctx.ops if op.kind == primary]
    out["trace.op_p50_s"] = statistics.median(primary_lat) if primary_lat else 0.0
    out["trace.bookkeeping_s"] = tr.bookkeeping_s
    return out
