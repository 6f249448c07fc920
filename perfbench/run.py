#!/usr/bin/env python3
"""Repo benchmark: seeded transcript corpora through the feature engine.

Run from the repository root::

    python3 perfbench/run.py --workload narrow_backfill --seed 42 --seconds 10 --trace 0

Workloads (see ``workloads.py`` and ``README.md``): ``narrow_backfill`` and
``wide190_backfill``. Each is one process with one query in flight at
``local[nproc]``. After set-up it runs a closed loop of noop-sink full
passes over the corpus for ``--seconds``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` instead runs the
traced phase and prints the per-layer metrics. The last stdout line is the
JSON result; the line before it is a report with host facts, sample counts,
RSS peaks, the failed fraction and each output check. Run state lives under
``.perfbench_cache/`` in the repository root and is removed at exit, except
traces.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench_cache")

#: seeds a performance claim must hold on: the first is the usual one, the
#: second is for confirming a claim on inputs not used while writing it
CLAIM_SEEDS = (42, 7)
UPSERT_ROUND = 1  # append-batch id of the traced upsert
MIN_ROUNDS = 2
TRACE_ROUNDS = 3  # traced rounds, each followed by an untraced pass
LAYER_SUM_BAND = (0.9, 1.1)  # ROADMAP aim 1: layer sum / untraced wall
MAX_RUN_S = 150  # stop starting rounds after this much process age


class Ledger:
    """Counts attempted and failed operations; a failure is an exception
    (an OOM-killed worker surfaces as one) or a failed output check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}

    def op(self, name: str, fn):
        """Run ``fn``; return (seconds, result), or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:  # the benchmark must keep running and report it
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
            traceback.print_exc()
            return None
        return time.perf_counter() - t0, res

    def check(self, name: str, passed: bool) -> None:
        self.attempted += 1
        self.failed += not passed
        self.checks[name] = passed


def summary(samples: list[float]) -> dict:
    """Median and sample count, plus p90 once 10 samples lie beyond it."""
    out = {"median": statistics.median(samples), "n": len(samples)}
    if len(samples) >= 100:
        out["p90"] = statistics.quantiles(samples, n=10)[-1]
    return out


def in_time(deadline: float) -> bool:
    return time.perf_counter() < deadline and probes.process_age_s() < MAX_RUN_S


def timed_loop(wl, ledger: Ledger, seconds: float) -> list[float]:
    """Walls of a closed loop of full passes for ``seconds``, with at least
    MIN_ROUNDS attempts."""
    walls: list[float] = []
    deadline = time.perf_counter() + seconds
    k = 0
    while k < MIN_ROUNDS or in_time(deadline):
        untraced_pass(wl, ledger, walls)
        k += 1
    return walls


def untraced_pass(wl, ledger: Ledger, walls: list[float]) -> float | None:
    """Time one full pass into ``walls``; return its wall, or None if it
    failed."""
    got = ledger.op("full_pass", wl.full_pass)
    if got:
        walls.append(got[0])
        return got[0]
    return None


def traced_phase(wl, store, seconds: float, tracer, ledger: Ledger, sampler) -> tuple[list[float], dict]:
    """For ``seconds`` (at least TRACE_ROUNDS rounds): a traced round of
    plan build and cumulative prefix materialisations, the last prefix being
    the noop sink, then an untraced full pass. Then one spanned refresh and
    one upsert of ``store``. Returns (untraced walls, per-layer metrics).

    A layer's self time is the difference between successive prefix
    medians, so the self times sum to the median of the last prefix: the
    traced noop pass. ``trace.layer_sum_ratio`` is therefore the drift
    between traced and untraced passes of the same query: the median over
    rounds of the traced noop pass's wall over the untraced pass's right
    after it. Passes still speed up over these rounds as the JIT compiles,
    by up to a quarter from one round to the next on wide190, so only
    adjacent passes are compared. A ratio outside LAYER_SUM_BAND fails a
    check."""
    from nfl_feature_store_spark.plans import skew_report
    from pyspark.sql import functions as F

    untraced: list[float] = []
    walls: dict[str, list[float]] = {"plan": []}
    rows: dict[str, int] = {}
    sampler.reset()
    deadline = time.perf_counter() + seconds
    rounds, ratios = 0, []
    while rounds < TRACE_ROUNDS or in_time(deadline):
        with tracer.span("round"):
            with tracer.span("pipeline.plan") as s:
                wl.features(wl.transcripts)._jdf.queryExecution().executedPlan()
            walls["plan"].append(s["end"] - s["start"])
            for name, df in wl.prefixes():
                with tracer.span(f"prefix.{name}") as s:
                    last_plan, rows[name] = probes.materialise(df)
                walls.setdefault(name, []).append(s["end"] - s["start"])
            with tracer.span("prefix.sink") as s:
                wl.full_pass()
            walls.setdefault("sink", []).append(s["end"] - s["start"])
        u = untraced_pass(wl, ledger, untraced)
        if u is not None:
            ratios.append(walls["sink"][-1] / u)
        rounds += 1
    worker_peak_mb = sampler.peaks_mb()["workers"]

    self_s, prev = {}, 0.0
    for name, w in walls.items():
        if name != "plan":
            cum = statistics.median(w)
            self_s[name], prev = cum - prev, cum
    if wl.rank_on:
        rank_s = self_s["rank"]
    else:  # outside the layer chain and its sum
        probe_s = []
        for name, df in zip(("kernel", "rank"), wl.rank_probe()):
            with tracer.span(f"rank_probe.{name}") as s:
                probes.materialise(df)
            probe_s.append(s["end"] - s["start"])
        rank_s = probe_s[1] - probe_s[0]
    ratio = statistics.median(ratios) if ratios else float("nan")
    ledger.check("layer_sum_within_10pct_of_untraced_wall", LAYER_SUM_BAND[0] <= ratio <= LAYER_SUM_BAND[1])
    buckets = skew_report(wl.transcripts.withColumn("bucket", F.date_trunc("day", "ts")), "bucket")
    out = {
        "window_kernel.worker_peak_rss_mb": worker_peak_mb,
        "sources.scan_s": self_s["scan"],
        "sources.rows_in": rows["scan"],
        "sessionize.dedup_sessionize_s": self_s["dedup_sessionize"],
        "sessionize.dedup_dropped_rows": rows["scan"] - rows["dedup_sessionize"],
        "window_kernel.kernel_s": self_s["kernel"],
        "rank.rank_s": rank_s,
        "rank.rank_bucket_max_share": buckets["max_per_key"] / buckets["n_rows"],
        "sink.noop_s": self_s["sink"],
        "pipeline.plan_s": statistics.median(walls["plan"]),
        "trace.layer_sum_ratio": ratio,
        "trace.overhead_s": abs(sum(self_s.values()) - statistics.median(untraced)) if untraced else ratio,
    }
    m = probes.plan_metrics(last_plan)
    out["sources.scan_bytes"] = m.pop("scan_bytes")
    for k in ("exchange_count", "exchange_bytes", "exchange_write_s"):
        out[f"exchange.{k}"] = m.pop(k)
    m.pop("python_boot_s")  # workers are reused by now; set-up measures their boot
    out.update({f"window_kernel.{k}": v for k, v in m.items()})
    out.update(traced_sink(store, tracer, ledger))
    return untraced, out


SINK_LAYERS = {
    "checkpoint.fingerprint": "checkpoint.fingerprint_s",
    "checkpoint.build": "checkpoint.build_s",
    "checkpoint.write_partition": "checkpoint.sink_write_s",
    "checkpoint.verify": "checkpoint.sink_verify_s",
}


def traced_sink(store, tracer, ledger: Ledger) -> dict[str, float]:
    """One spanned refresh of ``store``, the store's first, so it includes
    the parquet writer's warm-up; then one upsert and the store's output
    checks."""
    first = len(tracer.spans)
    store.traced_refresh(tracer)
    spans = tracer.spans[first:]
    out = {
        out_name: sum(s["end"] - s["start"] for s in spans if s["name"] == name)
        for name, out_name in SINK_LAYERS.items()
    }
    writes = [s for s in spans if s["name"] == "checkpoint.write_partition"]
    out["checkpoint.bytes_out_per_turn"] = sum(s["bytes_out"] for s in writes) / store.turns
    got = store.upsert(UPSERT_ROUND)
    out["checkpoint.upsert_partitions_built"] = len(got["built"])
    ledger.check("upsert_rebuilt_one_partition", got["built"] == [got["target"]])
    got = ledger.op("store_checks", store.checks)
    for name, passed in got[1] if got else []:
        ledger.check(f"store_{name}", passed)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "nfl_feature_store_spark")):
        print(f"perfbench: no engine package nfl_feature_store_spark under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    import workloads

    if args.workload not in workloads.SIZES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.SIZES)}", file=sys.stderr)
        return 2

    fitted = probes.fit_environment(STATE)
    os.environ["SPARK_MASTER"] = f"local[{fitted['nproc']}]"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from nfl_feature_store_spark.session import get_spark
    from pyspark import SparkContext

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    ledger = Ledger()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=probes.session_conf(STATE))
    gateway = SparkContext._gateway
    wl = store = None
    try:
        with probes.RssSampler() as sampler:
            wl = workloads.Workload(spark, args.workload, args.seed, os.path.join(STATE, "runs", run_id))
            if args.trace:
                # the first kernel execution starts the Python workers, so
                # its executed plan holds their boot time
                first_plan, _ = probes.materialise(wl.rank_probe()[0])
                boot_s = probes.plan_metrics(first_plan)["python_boot_s"]
            wl.warm_up()
            setup_s = probes.process_age_s()
            if args.trace:
                tracer = probes.Tracer(run_id)
                store = workloads.PartitionedStore(wl, f"{wl.run_dir}-store")
                walls, layers = traced_phase(wl, store, args.seconds, tracer, ledger, sampler)
                layers["window_kernel.python_boot_s"] = boot_s
            else:
                sampler.reset()
                walls = timed_loop(wl, ledger, args.seconds)
            peaks = sampler.peaks_mb()
            got = ledger.op("checks", wl.checks)
            for name, passed in got[1] if got else []:
                ledger.check(name, passed)
        host = probes.host_facts(spark)
    finally:
        if store is not None:
            store.close()
        if wl is not None:
            wl.close()
        spark.stop()
        shutdown(gateway)
    host["calibration_s"] = probes.calibrate()

    if not walls:
        print("perfbench: no successful pass to report", file=sys.stderr)
        return 1
    untraced_wall = statistics.median(walls)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "claim_seeds": CLAIM_SEEDS,
        "host": {**host, **fitted},
        "turns": wl.turns,
        "setup_s": setup_s,
        "corpus_gen_s": wl.gen_s,
        "samples": {"pass_s": summary(walls)},
        "rss_peaks_mb": peaks,
    }
    if args.trace:
        metrics = layers
        tracer.dump(os.path.join(STATE, "traces", f"{run_id}.json"))
        units = PER_LAYER_UNITS
    else:
        metrics = {
            "turns_per_s": wl.turns / untraced_wall,
            "peak_rss_mb": peaks["total"],
            "setup_s": setup_s,
        }
        units = END_TO_END_UNITS
    report["failed_frac"] = ledger.failed / ledger.attempted
    report["checks"] = ledger.checks
    print(json.dumps({"report": report}, default=str))
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def shutdown(gateway) -> None:
    """Stop the JVM that ``get_spark`` launched and wait until it and every
    Python worker it forked have exited."""
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while probes.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.rows_in": "count",
    "sessionize.dedup_sessionize_s": "s",
    "sessionize.dedup_dropped_rows": "count",
    "exchange.exchange_count": "count",
    "exchange.exchange_bytes": "bytes",
    "exchange.exchange_write_s": "s",
    "window_kernel.kernel_s": "s",
    "window_kernel.arrow_bytes_to_python": "bytes",
    "window_kernel.arrow_bytes_from_python": "bytes",
    "window_kernel.python_s": "s",
    "window_kernel.python_boot_s": "s",
    "window_kernel.worker_peak_rss_mb": "MB",
    "rank.rank_s": "s",
    "rank.rank_bucket_max_share": "fraction",
    "sink.noop_s": "s",
    "pipeline.plan_s": "s",
    "checkpoint.fingerprint_s": "s",
    "checkpoint.build_s": "s",
    "checkpoint.sink_write_s": "s",
    "checkpoint.sink_verify_s": "s",
    "checkpoint.upsert_partitions_built": "count",
    "checkpoint.bytes_out_per_turn": "bytes",
    "trace.layer_sum_ratio": "ratio",
    "trace.overhead_s": "s",
}


if __name__ == "__main__":
    sys.exit(main())
