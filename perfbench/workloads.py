"""The two workloads: timed operations, each checked untimed against an
oracle. An operation is one call into the package's public API that runs
one or more Spark jobs; it fails if it raises or if its output fails its
check.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import common as C

WORKLOADS = ("write_mixed", "read_snapshot")
READ_OPS = ("verify", "pack", "filter", "chain", "take")


class Recorder:
    """Attempted/failed counts and per-operation wall times. With a tracer,
    each operation is also a span."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.walls: dict[str, list[float]] = {}
        self.last: dict[str, object] = {}

    def op(self, name: str, fn, check, span_name: str | None = None):
        self.attempted += 1
        t0 = time.monotonic()
        try:
            if self.tracer is not None:
                with self.tracer.span(span_name or name):
                    result = fn()
            else:
                result = fn()
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: raised\n{traceback.format_exc(limit=3)}")
            return None
        wall = time.monotonic() - t0
        try:
            problem = check(result)
        except Exception:
            problem = f"check raised\n{traceback.format_exc(limit=3)}"
        if problem:
            self.failed += 1
            self.failures.append(f"{name}: {problem}")
            return None
        self.walls.setdefault(name, []).append(wall)
        self.last[name] = result
        return result

    def add_counts(self, other: "Recorder") -> None:
        """Count ``other``'s operations (checked, untimed) as this run's."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.failures += other.failures

    def median(self, name: str) -> float | None:
        w = self.walls.get(name)
        return statistics.median(w) if w else None


def _diff(got, want) -> str | None:
    return None if got == want else f"got {got}, want {want}"


# ---------------------------------------------------------------------------
# write_mixed
# ---------------------------------------------------------------------------

def snapshot_totals(out_dir: str) -> dict:
    """Per-source docs/tokens/tok_sum and byte totals of a committed
    snapshot, from its own metadata columns and file sizes."""
    import pyarrow.compute as pc

    table, file_bytes = C.snapshot_meta(out_dir)
    per_source: dict[str, dict] = {}
    for src, ci, n, s in zip(
        table.column("source").to_pylist(), table.column("chunk_idx").to_pylist(),
        table.column("n_values").to_pylist(), table.column("tok_sum").to_pylist(),
    ):
        d = per_source.setdefault(src, {"rows": 0, "tokens": 0, "tok_sum": 0})
        d["rows"] += ci == 0
        d["tokens"] += n
        d["tok_sum"] += s
    ref = pc.min_element_wise(table.column("ref_rle_bytes"), table.column("raw_bytes"))
    return {
        "per_source": per_source,
        "file_bytes": file_bytes,
        "raw_bytes": pc.sum(table.column("raw_bytes")).as_py(),
        "encoded_bytes": pc.sum(table.column("encoded_bytes")).as_py(),
        "ref_bytes": pc.sum(ref).as_py(),
    }


def write_iteration(ctx, rec: Recorder) -> None:
    """encode_to_dir into an empty directory, then the identical call."""
    out = os.path.join(C.STATE, "work", f"write-{ctx.seed}")
    shutil.rmtree(out, ignore_errors=True)
    want = ctx.source_totals

    def check_write(lineage):
        if any(r["status"] != "encoded" for r in lineage):
            return "first write skipped partitions in an empty directory"
        totals = snapshot_totals(out)
        rec.last["write_totals"] = totals
        return _diff(totals["per_source"], want)

    def check_resume(lineage):
        not_skipped = [r["part_id"] for r in lineage if r["status"] != "skipped"]
        if not_skipped:
            return f"resume re-encoded partitions {not_skipped}"
        return _diff(snapshot_totals(out)["per_source"], want)

    rec.op("write", lambda: C.write_snapshot(ctx.df, out, ctx.cores), check_write,
           span_name="tableio.encode_to_dir")
    rec.op("resume", lambda: C.write_snapshot(ctx.df, out, ctx.cores), check_resume,
           span_name="tableio.encode_to_dir.resume")


# ---------------------------------------------------------------------------
# read_snapshot
# ---------------------------------------------------------------------------

def _agg_ints(df, **exprs) -> dict:
    row = df.agg(*[e.alias(k) for k, e in exprs.items()]).collect()[0]
    return {k: int(row[k] or 0) for k in exprs}


def read_iteration(ctx, rec: Recorder) -> None:
    """The five read-side consumers of the committed snapshot."""
    from pyspark.sql import functions as F

    from rle_array_spark import engine, packing, tableio

    blocks = tableio.read_blocks(ctx.spark, ctx.snapshot_dir)
    o = ctx.corpus_oracles
    rec.op(
        "verify",
        lambda: C.stats_digest(engine.decode_stats_df(blocks)),
        lambda d: _diff(d, ctx.snapshot_oracles["verify"]),
        span_name="engine.decode_stats_df",
    )
    rec.op(
        "pack",
        lambda: C.pack_digest(packing.pack_examples(
            engine.decode_df(blocks, reassemble_chunks=True), seq_len=C.PACK_SEQ_LEN
        )),
        lambda d: _diff(d, ctx.pack_oracle),
        span_name="packing.pack_examples",
    )
    rec.op(
        "filter",
        lambda: _agg_ints(engine.filter_blocks_df(blocks, C.FILTER_PRED),
                          s=F.sum("tok_sum"), n=F.sum("n_values")),
        lambda d: _diff(d, {"s": o["filter_sum"], "n": o["filter_count"]}),
        span_name="engine.filter_blocks_df",
    )
    rec.op(
        "chain",
        lambda: _agg_ints(engine.transform_blocks_chain(blocks, C.CHAIN), s=F.sum("tok_sum")),
        lambda d: _diff(d["s"], o["chain_sum"]),
        span_name="engine.transform_blocks_chain",
    )
    rec.op(
        "take",
        lambda: _agg_ints(engine.take_blocks(blocks, stride=C.TAKE_STRIDE), s=F.sum("tok_sum")),
        lambda d: _diff(d["s"], o["take_sum"]),
        span_name="engine.take_blocks",
    )
