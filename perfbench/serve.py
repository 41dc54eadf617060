"""``serve``: one static index, then worker URLs and library top-k calls.

Set-up builds the index with ``build.build_index`` and opens it with
``app.SearchApp``. A round is one request block (worker-format URLs
through ``SearchApp.handle_search``, boolean and BM25) followed by one
top-k block (``SearchEngine.search_bm25_wand``, no payloads). The traced
run alternates plain and traced rounds; traced rounds run
``handle_search``'s steps as separate spanned calls (``chained_request``).
After the timed rounds the traced run also times ``plans.batch``.
"""

from __future__ import annotations

import json
import os
import time

from edgesearch_spark.api import no_results_response, parse_query_url, search_response
from edgesearch_spark.app import SearchApp
from edgesearch_spark.build import IndexConfig, build_index
from edgesearch_spark.oracle import Query, SearchResult
from edgesearch_spark.plans.batch import QUERIES_SCHEMA, batch_search

from checks import check_request, check_topk, same_ranking
from inputs import K, SERVE_BLOCK, QueryMix

N_DOCS = 10_000
ORDER_COLS = ("repo", "path", "commit")
BATCH_QUERIES = 64
BATCH_CALLS = 3
SAMPLES = 12  # cross-route checks per kind, outside the timed region


def chained_request(tr, eng, url: str, scored: bool, rid=None, kind=None):
    """``SearchApp.handle_search`` as a chain of public calls, one span
    each: parse, fetch_terms, search, fetch_docs, response. Same status
    and body as handle_search; also returns the SearchResult."""
    with tr.span("request", rid, kind=kind):
        with tr.span("api.parse", rid):
            q = parse_query_url(url, k=eng.max_results)
        if q is None:
            return 400, json.dumps({"error": "Malformed query"}), None
        terms = list(q.require) + list(q.contain) + list(q.exclude)
        if len(terms) > eng.max_query_terms:
            return 413, json.dumps({"error": "Too many terms"}), None
        with tr.span("engine.fetch_terms", rid, kind=kind, n_terms=len(terms)):
            tp = eng.fetch_terms(terms)
        if q.require and any(tp[t] is None for t in q.require):
            return 200, no_results_response(), None
        with tr.span("engine.search", rid):
            result = eng.search_bm25(q) if scored else eng.search(q)
        with tr.span("engine.fetch_docs", rid):
            rows = eng.fetch_docs(list(result.doc_ids)).collect()
        by_id = {r["doc_id"]: r for r in rows}
        payloads = [json.dumps(by_id[d]["content"]) for d in result.doc_ids if d in by_id]
        with tr.span("api.response", rid):
            body = search_response(result, payloads)
        return 200, body, result


def traced_topk(tr, eng, q: Query, rid=None, kind=None):
    terms = list(q.require) + list(q.contain) + list(q.exclude)
    with tr.span("topk", rid, kind=kind):
        with tr.span("engine.fetch_terms", rid, kind=f"topk_{kind}", n_terms=len(terms)):
            eng.fetch_terms(terms)
        with tr.span("engine.search", rid):
            return eng.search_bm25_wand(q)


def indexed_fn(eng):
    return lambda t: eng.fetch_terms([t])[t] is not None


def run_requests(ctx, eng, block, lat, traced, handle=None, deleted=frozenset(), digest=False):
    """Time each request of ``block``; ``handle`` is SearchApp.handle_search
    for plain serve rounds, else the chained calls run (spanned or not)."""
    indexed = indexed_fn(eng)
    for req in block:
        rid = f"r{ctx.next_rid()}"
        t0 = time.perf_counter()
        try:
            if handle is not None and not traced:
                r = handle(req["url"], scored=req["scored"])
                status, body, result = r.status, r.body, None
            else:
                tr = ctx.tracer if traced else ctx.null_tracer
                status, body, result = chained_request(tr, eng, req["url"], req["scored"], rid, req["kind"])
        except Exception as e:  # a failed request is counted, the run goes on
            ctx.op_failed(f"request {req['url']}", e)
            continue
        lat.append(time.perf_counter() - t0)
        probs = check_request(req, status, body, indexed)
        if result is not None and deleted & set(result.doc_ids):
            probs.append("deleted doc returned")
        ctx.op_checked(probs, req["url"])
        if digest:
            ctx.digest.add(req["url"], status, body)


def run_topk(ctx, eng, block, lat, traced, deleted=frozenset(), digest=False):
    for kind, q in block:
        rid = f"t{ctx.next_rid()}"
        t0 = time.perf_counter()
        try:
            res = traced_topk(ctx.tracer, eng, q, rid, kind) if traced else eng.search_bm25_wand(q)
        except Exception as e:
            ctx.op_failed(f"topk {q}", e)
            continue
        lat.append(time.perf_counter() - t0)
        probs = check_topk(res, q.k)
        if deleted & set(res.doc_ids):
            probs.append("deleted doc returned")
        ctx.op_checked(probs, f"topk {q}")
        if digest:
            ctx.digest.add(q, res.total, res.doc_ids, res.scores)


def run_round(ctx, eng, requests, topk, side, traced, handle=None, deleted=frozenset(), digest=False):
    """A request block with the top-k block spread evenly between its
    requests, so both latency samples span the whole round rather than a
    short window of the host's second-scale speed jitter."""
    per = -(-len(topk) // len(requests))
    for i, req in enumerate(requests):
        run_requests(ctx, eng, [req], side["request"], traced, handle, deleted, digest)
        run_topk(ctx, eng, topk[i * per:(i + 1) * per], side["topk"], traced, deleted, digest)


def verify_routes(ctx, eng, mix: QueryMix, n: int = SAMPLES) -> None:
    """Outside the timed region: boolean and BM25 totals agree, and the
    WAND kernel ranks exactly like exhaustive BM25."""
    qs = [r["query"] for r in mix.request_block({"bool": n})]
    for q in qs:
        a, b = eng.search(q), eng.search_bm25(q)
        ctx.op_checked([] if a.total == b.total else [f"bool total {a.total} != bm25 total {b.total}"], f"totals {q}")
    for _, q in mix.topk_block()[:n]:
        ok = same_ranking(eng.search_bm25_wand(q), eng.search_bm25(q))
        ctx.op_checked([] if ok else ["search_bm25_wand differs from search_bm25"], f"wand {q}")


def traced_build(ctx, corpus, out_dir: str):
    """build_index, run stage by stage under spans when traced (resume
    picks up after the last committed stage, so the chain does the work of
    one call). Returns the StageMetrics of every stage."""
    tr, spark = ctx.tracer, ctx.spark
    metrics = []
    steps = ("docs", "stats", "postings", None) if tr.enabled else (None,)
    for stop in steps:
        with tr.span(f"build.{stop or 'rest'}"):
            metrics += build_index(spark, corpus, out_dir, IndexConfig(),
                                   order_cols=ORDER_COLS, stop_after=stop)
    return metrics


def run(ctx) -> None:
    spark, tr = ctx.spark, ctx.tracer
    mix = QueryMix(ctx.seed, cold_ids=N_DOCS)
    with ctx.synthesis():
        corpus = ctx.materialize_corpus("corpus", N_DOCS)
    idx = os.path.join(ctx.work, "index")
    ctx.phase("synth")
    t0 = time.perf_counter()
    stages = traced_build(ctx, corpus, idx)
    build_s = time.perf_counter() - t0
    ctx.phase("build")
    app = SearchApp(spark, idx)
    eng = app.engine
    ctx.phase("open")
    eng.fetch_terms(mix.vocab)  # warm: only cold and absent terms miss the cache
    # warm-up: part of a round, so the JIT has compiled the request and
    # top-k paths before timing (an unwarmed first round runs ~20% slower)
    run_round(ctx, eng, mix.request_block(SERVE_BLOCK)[:8], mix.topk_block()[:300],
              {"request": [], "topk": []}, False, handle=app.handle_search)
    ctx.setup_done()
    ctx.phase("warm")

    plain = {"request": [], "topk": [], "wall": 0.0}
    traced = {"request": [], "topk": [], "wall": 0.0}
    rnd = 0
    while rnd < ctx.min_rounds or ctx.elapsed() < ctx.seconds:
        side = traced if ctx.traced and rnd % 2 else plain
        is_traced = side is traced
        t = time.perf_counter()
        run_round(ctx, eng, mix.request_block(SERVE_BLOCK), mix.topk_block(), side, is_traced,
                  handle=app.handle_search, digest=rnd == 0)
        side["wall"] += time.perf_counter() - t
        rnd += 1
    ctx.timed_done(plain, traced)

    verify_routes(ctx, eng, mix)
    index_bytes = ctx.dir_bytes(idx)
    ctx.phase("verify")

    if not ctx.traced:
        ctx.report(plain, write_docs_per_s=N_DOCS / build_s,
                   index_bytes_per_input_byte=index_bytes / ctx.input_bytes)
        return

    # the traced rounds ran handle_search's steps as separate calls:
    # check that the chain answers exactly like handle_search
    for req in mix.request_block({"bool": 1, "bm25": 1, "default": 1, "exclude_only": 1}):
        a = app.handle_search(req["url"], scored=req["scored"])
        b = chained_request(ctx.null_tracer, eng, req["url"], req["scored"])
        ok = (a.status, a.body) == b[:2]
        ctx.op_checked([] if ok else ["chained calls differ from handle_search"], req["url"])
    run_batch(ctx, idx, mix, eng)
    ctx.phase("batch")
    # docs/stats/postings: outside spans; the tail stages share one call,
    # so they come from the stage timers build_index returns
    stage_s = {m.stage: m.seconds for m in stages}
    for st in ("docs", "stats", "postings"):
        (sp,) = tr.named(f"build.{st}")
        stage_s[st] = sp["end"] - sp["start"]
    ctx.report_layers(build_stage_s=stage_s, overhead=traced["wall"] / plain["wall"] - 1.0)


def run_batch(ctx, idx, mix: QueryMix, eng) -> None:
    """Time ``batch_search`` over one seeded table, run to completion; the
    first call warms the plan. Then check its top-k against the
    single-query route at the table's 6-place rounding."""
    spark, tr = ctx.spark, ctx.tracer
    rows = mix.batch_table(BATCH_QUERIES)
    qdf = spark.createDataFrame(rows, QUERIES_SCHEMA)
    out = None
    for i in range(BATCH_CALLS):
        with tr.span("batch.call", call=i):
            out = batch_search(spark, idx, qdf, k=K).collect()
    ranked: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        ranked.setdefault(r["query_id"], []).append(r)
    for qid, req, con, excl in rows:
        single = eng.search_bm25(Query.make(require=req, contain=con, exclude=excl, k=K))
        got = ranked.get(qid, [])
        batch_res = SearchResult(single.total, None, [r["doc_id"] for r in got], [r["score"] for r in got])
        ok = same_ranking(single, batch_res, places=6)
        ctx.op_checked([] if ok else [f"batch top-k differs for {qid}"], f"batch {qid}")

