"""Layer-attributed benchmark for rle-array-spark.

    python3 perfbench/run.py --workload write_mixed --seed 0 --seconds 12 --trace 0

Runs one workload as a closed loop with a single client: batch jobs one
after another in a local[nproc/2] Spark session for about ``--seconds``,
after a cold session that prepares the inputs. Every operation's output is
checked untimed against an oracle.
Prints a report, then as the last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json;
with ``--trace 1`` the run executes every layer-isolating probe under spans
and the metrics are the per-layer ones. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import sys
import time

import common as C
import workloads as W

# Timed samples per operation, even when iterations outlast --seconds. A
# run must fit the ~70 s a comparison of 48 runs allows it; on a slow phase
# of the 4-core box the fixed part (JVM launch, preparation, three warm
# set-ups, the warm-up iteration) already takes ~40 s.
MIN_SAMPLES = 3
# Untimed (but checked) iterations before the timed loop, at least
# WARMUP_ITERATIONS and until WARMUP_SECONDS have passed: in a fresh
# session the first iteration runs 1.5-3x slower, and the JVM's compiler
# threads keep taking CPU from the next few while they compile the new
# code paths (measured: 3.5 CPU-s in the second iteration, 1 in the
# twelfth), which would otherwise move the median of a few samples.
WARMUP_ITERATIONS = 1
WARMUP_SECONDS = 5.0

E2E_UNITS = {
    "setup_s": "s",
    "tok_per_s": "tok/s",
    "pass_tok_per_s": "tok/s",
    "compression_ratio_vs_reference_rle": "ratio",
}


class Context:
    """What the operations of one run share: the session, the corpus and
    the oracles."""

    def __init__(self, seed: int, cores: int):
        self.seed = seed
        self.cores = cores
        self.spark = None
        self.df = None

    def attach(self, spark) -> None:
        self.spark = spark
        self.df = C.read_corpus(spark, self.corpus_dir)

    def prepare(self, spark, workload: str) -> None:
        """Untimed: corpus, fingerprint check, oracles, and the snapshot
        read_snapshot reads."""
        t0 = time.monotonic()
        self.corpus_dir, self.meta = C.ensure_corpus(self.seed)
        self.pinned = C.check_fingerprint(self.meta)
        self.attach(spark)
        t1 = time.monotonic()
        if workload in ("write_mixed", "trace"):
            self.source_totals = C.source_totals_oracle(spark, self.corpus_dir)
        if workload in ("read_snapshot", "trace"):
            self.corpus_oracles = C.corpus_oracles(self.corpus_dir)
            self.pack_oracle = C.pack_oracle(spark, self.corpus_dir)
            self.snapshot_dir, self.snapshot_oracles = C.ensure_read_snapshot(
                spark, self.corpus_dir, self.seed, self.cores
            )
        self.scan_tasks = self.df.rdd.getNumPartitions()
        self.prep = (t1 - t0, time.monotonic() - t1)


def _rate(tokens: int, wall: float | None) -> float | None:
    return tokens / wall if wall else None


def measure(workload: str, ctx: Context, seconds: int,
            rec: W.Recorder) -> tuple[tuple, list, int]:
    """Set up the sessions and run the closed loop. Returns the cold
    set-up's (session_s, warm_s), those of the warm set-ups, and the number
    of warm-up iterations.

    The first (cold) session launches the JVM and prepares the corpus,
    oracles and snapshot untimed. Then C.WARM_SETUPS sessions are set up one
    after another in the running JVM, and the loop runs in the last, after
    untimed warm-up iterations (see WARMUP_SECONDS). The loop stops before
    an iteration that would overrun ``seconds``, after at least
    MIN_SAMPLES."""
    iteration = W.write_iteration if workload == "write_mixed" else W.read_iteration
    spark, s, w = C.start_session(ctx.cores)
    cold = (s, w)
    ctx.prepare(spark, workload)
    spark, setups = C.warm_setups(spark, ctx.cores)
    ctx.attach(spark)
    warmup = W.Recorder()
    t0 = time.monotonic()
    for warmups in itertools.count(1):
        iteration(ctx, warmup)
        if warmups >= WARMUP_ITERATIONS and time.monotonic() - t0 >= WARMUP_SECONDS:
            break
    rec.add_counts(warmup)
    t0 = last = time.monotonic()
    for n in itertools.count(1):
        iteration(ctx, rec)
        now = time.monotonic()
        if n >= MIN_SAMPLES and now - t0 + (now - last) > seconds:
            break
        last = now
    C.stop_session(spark)
    return cold, setups, warmups


def e2e_metrics(workload: str, ctx: Context, rec: W.Recorder, setups: list) -> tuple[dict, dict]:
    """(end-to-end metrics for the JSON line, named workload figures for
    the report)."""
    T = ctx.meta["fingerprint"]["tokens"]
    med = rec.median
    named: dict[str, tuple[float, str]] = {}
    metrics: dict[str, float] = {}
    setup_s = statistics.median([s + w for s, w in setups])
    metrics["setup_s"] = setup_s
    if workload == "write_mixed":
        passes = [med("write"), med("resume")]
        metrics["tok_per_s"] = _rate(T, med("write"))
        totals = rec.last.get("write_totals")
        if totals:
            named["stored_bytes_per_raw_byte"] = (totals["file_bytes"] / (4 * T), "ratio")
            metrics["compression_ratio_vs_reference_rle"] = (
                totals["ref_bytes"] / totals["encoded_bytes"])
        named["write_tok_per_s"] = (metrics["tok_per_s"], "tok/s")
        named["resume_s"] = (med("resume"), "s")
    else:
        passes = [med(p) for p in W.READ_OPS]
        metrics["tok_per_s"] = _rate(T, med("verify"))
        totals = W.snapshot_totals(ctx.snapshot_dir)
        metrics["compression_ratio_vs_reference_rle"] = (
            totals["ref_bytes"] / totals["encoded_bytes"])
        named["verify_tok_per_s"] = (metrics["tok_per_s"], "tok/s")
        pack = rec.last.get("pack")
        if pack and med("pack"):
            named["pack_examples_per_s"] = (pack["examples"] / med("pack"), "examples/s")
        for op in ("filter", "chain", "take"):
            named[f"{op}_tok_per_s"] = (_rate(T, med(op)), "tok/s")
    if all(passes):
        metrics["pass_tok_per_s"] = T * len(passes) / sum(passes)
    named["setup_s"] = (setup_s, "s")
    named["failed_ops_share"] = (rec.failed / max(rec.attempted, 1), "ratio")
    return {k: v for k, v in metrics.items() if v is not None}, named


def untraced(workload: str, ctx: Context, seconds: int, cal_start: float) -> dict:
    rec = W.Recorder()
    cold, setups, warmups = measure(workload, ctx, seconds, rec)
    metrics, named = e2e_metrics(workload, ctx, rec, setups)
    cal_end = C.calibrate()
    C.print_properties(ctx)
    samples = ", ".join(f"{k} {len(v)}" for k, v in rec.walls.items())
    print(f"run: workload {workload}, closed loop, 1 client, {ctx.cores} cores; "
          f"{len(setups)} warm session set-ups; untimed warm-up iterations "
          f"{warmups}; samples per operation: {samples}")
    print(f"run: cold set-up (launches the JVM) {cold[0]:.3f} s session + {cold[1]:.3f} s "
          f"warm-up; warm set-ups " + ", ".join(f"{s + w:.3f}" for s, w in setups) + " s")
    print(f"run: calibration cell {cal_start:.3f} s at start, {cal_end:.3f} s at end "
          f"(drift {cal_end / cal_start:.3f}); property of the box, not a metric")
    for name, (value, unit) in named.items():
        print(f"metric {name} = {_fmt(value)} {unit}")
    for name, value in metrics.items():
        print(f"e2e {name} = {_fmt(value)} {E2E_UNITS[name]}")
    for f in rec.failures:
        print(f"FAILED {f}")
    C.save_record(workload, {
        "seed": ctx.seed, "tokens": ctx.meta["fingerprint"]["tokens"],
        "package": C.package_hash(), "cores": ctx.cores,
        "named": {k: v[0] for k, v in named.items()},
        "walls": {k: statistics.median(v) for k, v in rec.walls.items()},
        "calibration": [cal_start, cal_end],
    })
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()},
    }


def _fmt(v) -> str:
    return "absent" if v is None else f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    if not os.path.isfile(os.path.join(C.PACKAGE, "__init__.py")):
        print(f"error: package sources not found at {C.PACKAGE}", file=sys.stderr)
        return 2

    C.prepare_env()
    cal_start = C.calibrate()
    ctx = Context(args.seed, C.bench_cores())
    try:
        if args.trace:
            import layers

            result = layers.run(args.workload, ctx, cal_start)
        else:
            result = untraced(args.workload, ctx, args.seconds, cal_start)
    finally:
        C.shutdown_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
