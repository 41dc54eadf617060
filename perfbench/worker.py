"""One workload run in a fresh process (started by run.py).

Starts the Spark session with the benchmark's posture, runs the workload,
checks its outputs, and prints the result as the last stdout line. Metric
names and units come from BENCHMARK.json, and a run that cannot report
exactly its set fails.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from checks import Digest  # noqa: E402
from inputs import sub_seed  # noqa: E402
from layers import layer_metrics, pct  # noqa: E402
from spans import Tracer  # noqa: E402


def _rss_mb(status_path: str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(status_path) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Ctx:
    """State of one run: session, tracer, timers, op counts and metrics."""

    def __init__(self, args, spark, session_s: float):
        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.work = args.work
        self.spark = spark
        self.session_s = session_s
        self.tracer = Tracer(spark, self.traced)
        self.null_tracer = Tracer(spark, False)
        # the traced run alternates plain and traced rounds: it needs one of each
        self.min_rounds = 2 if self.traced else 1
        self.attempted = self.failed = 0
        self.synth_s = 0.0
        self.input_bytes = 0
        self.digest = Digest()
        self.metrics: dict[str, float] = {}
        self._rid = 0
        self._t0 = None
        self._synth_at_t0 = 0.0
        self.setup_s = None
        self.measured_s = None
        self.phases: dict[str, float] = {"session": session_s}
        self.info: dict = {}
        self._mark = time.monotonic()

    def next_rid(self) -> int:
        self._rid += 1
        return self._rid

    # ---- timers ----
    def phase(self, name: str) -> None:
        """Close the phase running since the previous mark (for the info line)."""
        now = time.monotonic()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._mark
        self._mark = now

    @contextmanager
    def synthesis(self):
        """Input synthesis: excluded from set-up and measuring time."""
        t = time.monotonic()
        try:
            yield
        finally:
            self.synth_s += time.monotonic() - t

    def setup_done(self) -> None:
        now = time.monotonic()
        self.setup_s = now - T_PROCESS - self.synth_s
        self._t0 = now
        self._synth_at_t0 = self.synth_s

    def elapsed(self) -> float:
        return time.monotonic() - self._t0 - (self.synth_s - self._synth_at_t0)

    def timed_done(self, *sides: dict) -> None:
        """End of the measuring time; ``sides`` hold the latency samples."""
        self.measured_s = self.elapsed()
        for k in ("request", "topk"):
            self.info[f"n_{k}"] = sum(len(s[k]) for s in sides)
            self.info[f"{k}_s"] = round(sum(sum(s[k]) for s in sides), 2)
        self.phase("timed")

    # ---- outcomes ----
    def op_checked(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"WRONG {what}: {'; '.join(problems[:3])}", file=sys.stderr)

    def op_failed(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"FAILED {what}: {exc!r}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    # ---- inputs and sizes ----
    def materialize_corpus(self, name: str, n_docs: int):
        """Generate the corpus ``name`` of this run's seed on the driver
        (``corpus.generate_corpus_pandas``, the twin of ``generate_corpus``)
        into one parquet file per core, so no Spark job runs for input
        synthesis. Adds the table's raw UTF-8 bytes to ``input_bytes``."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from edgesearch_spark.corpus import CORPUS_SCHEMA, generate_corpus_pandas

        pdf = generate_corpus_pandas(n_docs, seed=sub_seed(self.seed, name))
        self.input_bytes += sum(len(v.encode()) for c in pdf.columns for v in pdf[c])
        path = os.path.join(self.work, name)
        os.makedirs(path)
        n_files = self.spark.sparkContext.defaultParallelism
        for i, part in enumerate(np.array_split(np.arange(n_docs), n_files)):
            table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
            pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
        return self.spark.read.schema(CORPUS_SCHEMA).parquet(path)

    @staticmethod
    def dir_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    # ---- reporting ----
    def report(self, plain: dict, **metrics: float) -> None:
        """End-to-end metrics; ``plain`` holds the untraced latency samples.
        Top-k latency is not one: a ~2 ms pure-Python call follows the
        host's single-core speed, which moved its p50 ~20% between runs on
        a shared 4-vCPU VM however many calls a run made. The traced run
        reports it as ``engine.kernel_p50_ms``."""
        self.metrics.update(
            setup_s=self.setup_s,
            request_p50_ms=pct(plain["request"], 50) * 1e3,
            py_peak_rss_mb=resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            **metrics)

    def report_layers(self, build_stage_s: dict, overhead: float) -> None:
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.metrics.update(layer_metrics(
            self.tracer.resolve(), build_stage_s=build_stage_s,
            session_start_s=self.session_s,
            jvm_peak_rss_mb=_rss_mb(f"/proc/{jvm}/status"),
            overhead=overhead))


def start_session(work: str):
    """local[nproc], shuffle partitions = cores, a driver heap that fits a
    15 GB host, no console progress, scratch space inside the work dir
    (run.py points the JVMs' temp dir there too)."""
    from edgesearch_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every finished job and stage readable for the traced run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return get_spark(app_name="perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def expected_metrics(traced: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("serve", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()
    units = expected_metrics(bool(args.trace))
    os.makedirs(os.path.join(args.work, "tmp"), exist_ok=True)

    import live
    import serve

    t = time.monotonic()
    spark = start_session(args.work)
    ctx = Ctx(args, spark, time.monotonic() - t)
    try:
        {"serve": serve.run, "live": live.run}[args.workload](ctx)
        if ctx.traced:
            with open(args.trace_out, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "digest": ctx.digest.hexdigest(), "spans": ctx.tracer.spans}, f)
    finally:
        stop_session(spark)

    if set(ctx.metrics) != set(units):
        print(f"metric set mismatch: missing {sorted(set(units) - set(ctx.metrics))}, "
              f"extra {sorted(set(ctx.metrics) - set(units))}", file=sys.stderr)
        return 1
    ctx.phase("teardown")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "digest": ctx.digest.hexdigest(),
                      "measured_s": ctx.measured_s, "synth_s": ctx.synth_s, **ctx.info,
                      "phases": {k: round(v, 2) for k, v in ctx.phases.items()}}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(ctx.metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
