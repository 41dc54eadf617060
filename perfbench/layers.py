"""Per-layer metrics from the traced run's spans.

Every workload reports the whole set. A layer the workload never calls
reads 0: no time spent and no Spark work done there. Times are span wall
clock; ``*_spark_jobs`` / ``*_spark_stages`` / ``*_shuffle_bytes`` are per
call, from the span's own Spark job group.
"""

from __future__ import annotations

import statistics

BUILD_STAGES = ("docs", "stats", "postings", "terms", "blooms", "oltrigrams")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: int) -> float:
    """The q-th percentile (inclusive method); 0.0 for no samples."""
    xs = list(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def layer_metrics(spans: list[dict], build_stage_s: dict, session_start_s: float,
                  jvm_peak_rss_mb: float, overhead: float) -> dict[str, float]:
    def named(name, **attrs):
        return [s for s in spans if s["name"] == name
                and all(s.get(k) == v for k, v in attrs.items())]

    m: dict[str, float] = {
        "session.start_s": session_start_s,
        "session.jvm_peak_rss_mb": jvm_peak_rss_mb,
    }
    for st in BUILD_STAGES:
        m[f"build.{st}_s"] = build_stage_s.get(st, 0.0)
    builds = [s for s in spans if s["name"].startswith("build.")]
    m["build.spark_jobs"] = sum(s["jobs"] for s in builds)
    m["build.spark_stages"] = sum(s["stages"] for s in builds)
    m["build.shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in builds)

    fetch = [s for s in named("engine.fetch_terms") if s.get("n_terms")]
    m["engine.fetch_terms_ms"] = _mean(s["wall_s"] for s in fetch) * 1e3
    m["engine.fetch_terms_spark_jobs"] = _mean(s["jobs"] for s in fetch)
    m["engine.term_cache_hit_ratio"] = _mean(float(s["jobs"] == 0) for s in fetch)
    m["bloom.absent_spark_jobs"] = _mean(s["jobs"] for s in fetch if s.get("kind") == "absent_require")

    kernel = [s["wall_s"] * 1e3 for s in named("engine.search")]
    m["engine.kernel_p50_ms"] = pct(kernel, 50)
    m["engine.kernel_p95_ms"] = pct(kernel, 95)
    docs = named("engine.fetch_docs")
    m["engine.fetch_docs_ms"] = _mean(s["wall_s"] for s in docs) * 1e3
    m["engine.fetch_docs_spark_jobs"] = _mean(s["jobs"] for s in docs)
    m["api.parse_ms"] = _mean(s["wall_s"] for s in named("api.parse")) * 1e3
    m["api.response_ms"] = _mean(s["wall_s"] for s in named("api.response")) * 1e3
    m["app.self_ms"] = _mean(s["self_s"] for s in named("request")) * 1e3

    # the first batch call warms the plan; report the calls after it
    calls = [s for s in named("batch.call") if s.get("call", 0) > 0]
    m["batch.call_s"] = _median(s["wall_s"] for s in calls)
    m["batch.spark_jobs"] = _mean(s["jobs"] for s in calls)
    m["batch.spark_stages"] = _mean(s["stages"] for s in calls)
    m["batch.shuffle_bytes"] = _mean(s["shuffle_write_bytes"] for s in calls)

    # the set-up ingest (epoch 0) runs cold; report the timed segments
    ingest = [s for s in named("incremental.ingest") if s.get("epoch", 0) > 0]
    m["incremental.ingest_segment_s"] = _median(s["wall_s"] for s in ingest)
    m["incremental.ingest_spark_jobs"] = _mean(s["jobs"] for s in ingest)
    m["incremental.engine_open_s"] = _median(s["wall_s"] for s in named("incremental.engine_open"))
    m["incremental.compact_s"] = _median(s["wall_s"] for s in named("incremental.compact"))
    m["trace.overhead_pct"] = overhead * 100.0
    return m
