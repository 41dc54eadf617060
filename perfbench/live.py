"""``live``: an ``IncrementalIndexer`` taking small segments between reads.

Set-up ingests a base segment (the cold first ingest, which also warms
the ingest shape). A cycle ingests one segment, deletes a few docs, runs
the merge policy ``maybe_compact`` with its defaults, reopens ``engine()``
(a multi-segment engine with tombstones, its term cache refilled with the
query vocabulary so only cold and absent terms miss), then serves one
request block with a top-k block spread between the requests.
``SearchApp`` serves a single index directory, so live requests chain the
same public calls it makes. The traced run alternates plain and traced
cycles, then times one ``compact_in_place`` merge.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

from edgesearch_spark.streaming.incremental import IncrementalIndexer

from inputs import LIVE_BLOCK, QueryMix, sub_seed
from layers import BUILD_STAGES
from serve import run_round, verify_routes

BASE_DOCS = 2_000  # the size of a timed segment, so set-up warms its shape
SEG_DOCS = 2_000
DELETES = 20
# A run's write and latency samples come from at least this many cycles:
# one ingest per run moved write_docs_per_s 17% between runs.
MIN_CYCLES = 2


def open_engine(ctx, ix, mix: QueryMix, traced: bool):
    """engine() over the current segments, then fetch the query vocabulary
    so only the stream's cold and absent terms miss the term cache."""
    tr = ctx.tracer if traced else ctx.null_tracer
    with tr.span("incremental.engine_open"):
        eng = ix.engine()
    eng.fetch_terms(mix.vocab)
    return eng


def segment_stage_seconds(ix) -> dict[str, float]:
    """Median per-stage build seconds over the segments, as each segment
    build recorded them in its manifest."""
    per: dict[str, list[float]] = {}
    for seg in ix.segment_dirs():
        for st in BUILD_STAGES:
            p = os.path.join(seg, "_manifest", f"{st}.json")
            if os.path.exists(p):
                with open(p) as f:
                    per.setdefault(st, []).append(json.load(f)["seconds"])
    return {st: statistics.median(v) for st, v in per.items()}


def run(ctx) -> None:
    spark, tr = ctx.spark, ctx.tracer
    mix = QueryMix(ctx.seed, cold_ids=min(BASE_DOCS, SEG_DOCS))
    rng = np.random.default_rng(sub_seed(ctx.seed, "deletes"))
    root = os.path.join(ctx.work, "live")
    with ctx.synthesis():
        base = ctx.materialize_corpus("seg0", BASE_DOCS)
    ctx.phase("synth")
    ix = IncrementalIndexer(spark, root)
    with tr.span("incremental.ingest", epoch=0):
        ix.ingest_batch(base, 0)
    ctx.phase("build")
    eng = open_engine(ctx, ix, mix, False)
    ctx.phase("open")
    run_round(ctx, eng, mix.request_block(LIVE_BLOCK)[:4], mix.topk_block()[:100],
              {"request": [], "topk": []}, False)
    ctx.setup_done()
    ctx.phase("warm")

    plain = {"request": [], "topk": [], "wall": 0.0}
    traced = {"request": [], "topk": [], "wall": 0.0}
    deleted: set[int] = set()
    write_s, written = 0.0, 0
    epoch = 0
    while epoch < max(ctx.min_rounds, MIN_CYCLES) or ctx.elapsed() < ctx.seconds:
        epoch += 1
        side = traced if ctx.traced and epoch % 2 == 0 else plain
        is_traced = side is traced
        t_side = tr if is_traced else ctx.null_tracer
        with ctx.synthesis():
            seg = ctx.materialize_corpus(f"seg{epoch}", SEG_DOCS)
        n_live = ix.manifest()["next_doc_id"] + SEG_DOCS
        dels = [int(d) for d in rng.choice(n_live, size=DELETES * 2, replace=False)
                if int(d) not in deleted][:DELETES]
        t = time.perf_counter()
        try:
            with t_side.span("incremental.ingest", epoch=epoch):
                ix.ingest_batch(seg, epoch)
            with t_side.span("incremental.delete"):
                ix.delete_docs(dels)
            with t_side.span("incremental.maybe_compact"):
                merged = ix.maybe_compact()
        except Exception as e:
            ctx.op_failed(f"ingest cycle {epoch}", e)
            continue
        dt = time.perf_counter() - t
        write_s += dt
        written += SEG_DOCS
        deleted.update(dels)
        ctx.op_checked([] if merged is None else ["merge policy fired on a small index"], f"cycle {epoch}")
        eng = open_engine(ctx, ix, mix, is_traced)
        t = time.perf_counter()
        gone = frozenset(deleted)
        run_round(ctx, eng, mix.request_block(LIVE_BLOCK), mix.topk_block(), side, is_traced,
                  deleted=gone, digest=epoch == 1)
        side["wall"] += time.perf_counter() - t + dt
    ctx.timed_done(plain, traced)
    ctx.info["write_s"] = round(write_s, 2)
    verify_routes(ctx, eng, mix)
    index_bytes = ctx.dir_bytes(root)
    ctx.phase("verify")
    if not ctx.traced:
        ctx.report(plain, write_docs_per_s=written / write_s,
                   index_bytes_per_input_byte=index_bytes / ctx.input_bytes)
        return

    stage_s = segment_stage_seconds(ix)
    with tr.span("incremental.compact"):
        ix.compact_in_place()
    eng = open_engine(ctx, ix, mix, False)
    verify_routes(ctx, eng, mix, n=4)
    n_live = written + BASE_DOCS - len(deleted)
    ok = len(ix.segment_dirs()) == 1 and not ix.deleted_ids() and eng.n_docs == n_live
    ctx.op_checked([] if ok else ["compaction left segments, tombstones or deleted docs"],
                   "compact_in_place")
    ctx.report_layers(build_stage_s=stage_s, overhead=traced["wall"] / plain["wall"] - 1.0)
