"""The traced run: layer-isolating probe jobs, each a span, plus in-process
kernel timings, turned into per-layer metrics and per-workload self-time
tables.

Each layer's self time comes from a probe that adds exactly that layer to
the previous one over the same input (scan only; + the Arrow round trip
with the real output schema and size; + the chunking pass; + the kernel;
+ the exchange; + write/commit), and the kernel layers (chooser, codecs) from in-process
calls on one core divided by the core count. What those do not explain is
printed as the remainder.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import numpy as np

import common as C
import workloads as W


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# identity mapInArrow kernels: the Arrow boundary at the real output shape
# ---------------------------------------------------------------------------

def _zeros(n: int, dtype):
    import pyarrow as pa

    return pa.array(np.zeros(n, dtype=dtype))


def identity_encode_kernel(ratio: float):
    """Token batches in, encoded-blocks-shaped batches out: one row per
    input row with a payload of ``ratio`` x the row's raw bytes (the
    measured encoded/raw ratio), so both legs carry the real bytes. Takes
    the raw corpus (``tokens`` list) or ``engine.pack_tokens_df`` output
    (``tok_bin`` binary and its chunk columns)."""

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if not n:
                continue
            n_tok = b.column("n_tok").to_numpy(zero_copy_only=False).astype(np.int64)
            packed = "tok_bin" in b.schema.names
            if packed:
                data_buf = b.column("tok_bin").buffers()[2]
                chunk_cols = [b.column("chunk_idx"), b.column("n_chunks"),
                              b.column("chunk_offset")]
            else:
                data_buf = b.column("tokens").flatten().buffers()[1]
                zi32 = _zeros(n, np.int32)
                chunk_cols = [zi32, pa.array(np.ones(n, dtype=np.int32)), _zeros(n, np.int64)]
            sizes = np.ceil(n_tok * 4 * ratio).astype(np.int64)
            offs = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(sizes, out=offs[1:])
            data = np.frombuffer(data_buf, dtype=np.uint8)[: int(offs[-1])]
            payload = pa.BinaryArray.from_buffers(
                pa.binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(data.copy())]
            )
            zi32, zi64 = _zeros(n, np.int32), _zeros(n, np.int64)
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), b.column("source"), pa.array(["rle"] * n), payload,
                 pa.array(n_tok.astype(np.int32)), zi32, zi64, zi32, zi32,
                 pa.array(n_tok * 4), pa.array(sizes), zi64, *chunk_cols],
                names=["doc_id", "source", "codec", "payload", "n_values", "n_runs",
                       "tok_sum", "tok_min", "tok_max", "raw_bytes", "encoded_bytes",
                       "ref_rle_bytes", "chunk_idx", "n_chunks", "chunk_offset"],
            )

    return kernel


def identity_stats_kernel(batches):
    import pyarrow as pa

    for b in batches:
        n = b.num_rows
        if not n:
            continue
        zi32, zi64 = _zeros(n, np.int32), _zeros(n, np.int64)
        yield pa.RecordBatch.from_arrays(
            [b.column("doc_id"), b.column("source"), b.column("n_values"),
             zi64, zi32, zi32, zi64, zi32, zi32],
            names=["doc_id", "source", "n_tok", "tok_sum", "tok_min", "tok_max",
                   "tok_wsum", "n_runs", "card"],
        )


def identity_decoded_kernel(batches):
    import pyarrow as pa

    for b in batches:
        n = b.num_rows
        if not n:
            continue
        nv = b.column("n_values").to_numpy(zero_copy_only=False).astype(np.int64)
        offs = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(nv, out=offs[1:])
        tokens = pa.ListArray.from_arrays(
            pa.array(offs), pa.array(np.zeros(int(offs[-1]), dtype=np.int32))
        )
        yield pa.RecordBatch.from_arrays(
            [b.column("doc_id"), b.column("source"), tokens],
            names=["doc_id", "source", "tokens"],
        )


def identity_blocks_kernel(batches):
    for b in batches:
        if b.num_rows:
            yield b


# ---------------------------------------------------------------------------
# in-process kernels (no Spark, one core)
# ---------------------------------------------------------------------------

def chunked_rows(path: str, chunk: int | None) -> list[np.ndarray]:
    """The token rows of one corpus file (one scan task), split at
    ``chunk`` tokens as ``engine.pack_tokens_df`` splits them."""
    import pyarrow.parquet as pq

    col = pq.read_table(path, columns=["tokens"]).column("tokens").combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    offs = np.concatenate(([0], np.cumsum(col.value_lengths().to_numpy(zero_copy_only=False))))
    rows = []
    for lo, hi in zip(offs[:-1].tolist(), offs[1:].tolist()):
        if chunk is None or hi - lo <= chunk:
            rows.append(flat[lo:hi])
        else:
            rows.extend(flat[s:min(s + chunk, hi)] for s in range(lo, hi, chunk))
    return rows


def inprocess_chooser(corpus_dir: str, chunk: int | None) -> dict:
    """``choose_codec_batch`` then ``encode_block`` of each winner, over the
    rows the write path encodes (each file's rows chunked, in the engine's
    1024-row Arrow batches): the chooser's trials and the final encode,
    split."""
    from rle_array_spark import choose_codec_batch, encode_block

    choose_s = encode_s = 0.0
    tokens = 0
    rows_by_codec: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(corpus_dir, "part-*.parquet"))):
        file_rows = chunked_rows(path, chunk)
        for b in range(0, len(file_rows), 1024):
            rows = file_rows[b:b + 1024]
            t0 = time.perf_counter()
            chosen = choose_codec_batch(rows)
            t1 = time.perf_counter()
            for values, (name, _payload) in zip(rows, chosen):
                encode_block(values, name)
            t2 = time.perf_counter()
            choose_s += t1 - t0
            encode_s += t2 - t1
            tokens += sum(r.size for r in rows)
            for name, _ in chosen:
                rows_by_codec[name] = rows_by_codec.get(name, 0) + 1
    return {"choose_s": choose_s, "encode_s": encode_s, "tokens": tokens,
            "rows_by_codec": rows_by_codec}


def inprocess_decode(snapshot_dir: str) -> dict:
    import pyarrow.parquet as pq

    from rle_array_spark import decode_block, tableio

    snap = tableio.read_snapshot(snapshot_dir)
    decode_s = 0.0
    tokens = 0
    for f in snap["files"]:
        t = pq.read_table(os.path.join(snapshot_dir, "blocks", f),
                          columns=["codec", "payload", "n_values"])
        codecs = t.column("codec").to_pylist()
        payloads = t.column("payload").to_pylist()
        ns = t.column("n_values").to_pylist()
        t0 = time.perf_counter()
        for c, p, n in zip(codecs, payloads, ns):
            decode_block(p, c, n)
        decode_s += time.perf_counter() - t0
        tokens += sum(ns)
    return {"decode_s": decode_s, "tokens": tokens}


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

ROUNDS = 2  # each probe runs this many times; layer figures are their medians


class Probe:
    """Runs probe jobs under spans; walls are medians over same-named spans."""

    def __init__(self, tracer):
        self.tracer = tracer

    def run(self, name: str, fn) -> None:
        with self.tracer.span(name):
            fn()

    def wall(self, name: str) -> float | None:
        d = [s["end"] - s["start"] for s in self.tracer.spans if s["name"] == name]
        return statistics.median(d) if d else None

    def span(self, name: str) -> dict | None:
        found = [s for s in self.tracer.spans if s["name"] == name]
        return found[-1] if found else None


def _sql(rec: dict | None, node: str, metric: str, rank: int | None = None) -> float | None:
    """A SQL metric of the span's plan nodes named ``node``: summed over
    all of them, or of the ``rank``-th in plan order (0 is the one nearest
    the sink)."""
    if rec is None or "plan" not in rec:
        return None
    nodes = [n for n in rec["plan"]["sql"] if n["name"] == node and metric in n["metrics"]]
    if rank is not None:
        nodes = nodes[rank:rank + 1]
    return sum(n["metrics"][metric] for n in nodes) if nodes else None


def _plan(rec: dict | None, key: str):
    if rec is None or "plan" not in rec:
        return None
    return rec["plan"][key]


def flush_plan_metrics(tracer, spans: list[dict]) -> None:
    """Let the listener bus publish the finished jobs, then read the plan
    metrics of every span of the current session."""
    time.sleep(1.0)
    for rec in spans:
        tracer.collect_plan_metrics(rec)


def traced_run(ctx, rec: W.Recorder, tracer, probe: Probe, restart) -> dict:
    """Every layer probe of both workloads plus the 1-core scaling probes.
    ``restart(cores)`` swaps
    the session. Returns the in-process kernel timings."""
    from rle_array_spark import engine, tableio

    df, cores = ctx.df, ctx.cores
    P = 2 * cores
    snap_meta, _ = C.snapshot_meta(ctx.snapshot_dir)
    ratio = sum(snap_meta.column("encoded_bytes").to_pylist()) / sum(
        snap_meta.column("raw_bytes").to_pylist()
    )
    chunk = tableio.auto_chunk_tokens(df, P)

    blocks = tableio.read_blocks(ctx.spark, ctx.snapshot_dir)
    sel = blocks.select("doc_id", "source", "codec", "payload", "n_values")
    # One untimed (checked) iteration of each workload first, as the
    # untraced loop warms up before timing.
    warmup = W.Recorder()
    W.write_iteration(ctx, warmup)
    W.read_iteration(ctx, warmup)
    rec.add_counts(warmup)
    for _ in range(ROUNDS):
        # write side
        probe.run("scan.corpus", lambda: _noop(df))
        probe.run("arrow.identity.encode", lambda: _noop(
            df.mapInArrow(identity_encode_kernel(ratio), engine.BLOCK_SCHEMA)))
        probe.run("engine.pack_tokens_df",
                  lambda: _noop(engine.pack_tokens_df(df, chunk_tokens=chunk)))
        probe.run("arrow.identity.encode.packed", lambda: _noop(
            engine.pack_tokens_df(df, chunk_tokens=chunk).mapInArrow(
                identity_encode_kernel(ratio), engine.BLOCK_SCHEMA)))
        probe.run("engine.encode_df", lambda: _noop(engine.encode_df(df, chunk_tokens=chunk)))
        probe.run("exchange.salted", lambda: _noop(
            engine.salted_repartition(engine.encode_df(df, chunk_tokens=chunk), P)))
        W.write_iteration(ctx, rec)
        # read side
        probe.run("scan.snapshot", lambda: _noop(blocks))
        probe.run("arrow.identity.stats",
                  lambda: _noop(sel.mapInArrow(identity_stats_kernel, engine.STATS_SCHEMA)))
        probe.run("arrow.identity.decoded",
                  lambda: _noop(sel.mapInArrow(identity_decoded_kernel, engine.DECODED_SCHEMA)))
        probe.run("arrow.identity.blocks",
                  lambda: _noop(blocks.mapInArrow(identity_blocks_kernel, engine.BLOCK_SCHEMA)))
        probe.run("engine.decode_df",
                  lambda: _noop(engine.decode_df(blocks, reassemble_chunks=True)))
        W.read_iteration(ctx, rec)
    flush_plan_metrics(tracer, [s for s in tracer.spans if s.get("base") == tracer.base])

    # -- in-process kernels (driver, one core) --------------------------------
    with tracer.span("chooser.choose_codec_batch"):
        ch = inprocess_chooser(ctx.corpus_dir, chunk)
    with tracer.span("codecs.decode_block"):
        dec = inprocess_decode(ctx.snapshot_dir)

    # -- scaling: the scan-parallel encode probes at one and at every core ---
    for cores, suffix in ((1, "1core"), (C.host_cores(), "ncore")):
        spark_c, df_c = restart(cores)
        tracer.bind(spark_c)
        for _ in range(ROUNDS):
            probe.run(f"scan.corpus.{suffix}", lambda: _noop(df_c))
            probe.run(f"arrow.identity.encode.{suffix}", lambda: _noop(
                df_c.mapInArrow(identity_encode_kernel(ratio), engine.BLOCK_SCHEMA)))
            probe.run(f"engine.encode_df.{suffix}", lambda: _noop(engine.encode_df(df_c)))
        flush_plan_metrics(tracer, [s for s in tracer.spans if s.get("base") == tracer.base])

    return {"chooser": ch, "decode": dec}


def lineage_codec_rows(lineage: list[dict]) -> dict[str, int]:
    """Rows per codec of a write, from its lineage records."""
    rows: dict[str, int] = {}
    for r in lineage:
        for name, n in json.loads(r["codec_histogram"]).items():
            rows[name] = rows.get(name, 0) + n
    return rows


def layer_metrics(probe: Probe, extra: dict, rec: W.Recorder, cold: tuple,
                  setups: list) -> dict:
    """The per-layer metrics, named as BENCHMARK.json lists them. A metric
    whose source is unavailable is left out."""
    w, sp = probe.wall, probe.span
    ch, dec = extra["chooser"], extra["decode"]
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        if value is not None:
            m[name] = (float(value), unit)

    put("setup.cold_s", sum(cold), "s")
    put("setup.session_s", statistics.median(s for s, _ in setups), "s")
    put("setup.warm_s", statistics.median(w_ for _, w_ in setups), "s")
    put("scan.corpus_s", w("scan.corpus"), "s")
    put("scan.snapshot_s", w("scan.snapshot"), "s")
    put("scan.bytes", _sql(sp("scan.corpus"), "Scan parquet", "size of files read"), "bytes")
    put("scan.tasks", _plan(sp("scan.corpus"), "tasks"), "count")
    put("arrow.identity_s", w("arrow.identity.encode") - w("scan.corpus"), "s")
    for suffix in ("1core", "ncore"):
        put(f"arrow.identity_s.{suffix}",
            w(f"arrow.identity.encode.{suffix}") - w(f"scan.corpus.{suffix}"), "s")
    # The chunked encode_df plan is scan -> MapInArrow (pack_tokens_df) ->
    # MapInArrow (encode kernel) -> sink; rank 0 is the encode kernel's.
    enc = sp("engine.encode_df")
    for metric, sql_name, unit in (
        ("arrow.bytes_to_python", "data sent to Python workers", "bytes"),
        ("arrow.bytes_from_python", "data returned from Python workers", "bytes"),
        ("arrow.worker_start_s", "time to start Python workers", "s"),
        ("arrow.python_run_s", "time to run Python workers", "s"),
    ):
        put(metric, _sql(enc, "MapInArrow", sql_name, rank=0), unit)
    put("chooser.tok_per_s", ch["tokens"] / ch["choose_s"], "tok/s")
    lin = rec.last.get("write")
    if lin:
        codec_rows = lineage_codec_rows(lin)
        for name in ("raw", "rle", "dict", "for", "bitpack", "ngram"):
            put(f"chooser.rows.{name}", codec_rows.get(name, 0), "count")
    put("codecs.encode_tok_per_s", ch["tokens"] / ch["encode_s"], "tok/s")
    put("codecs.decode_tok_per_s", dec["tokens"] / dec["decode_s"], "tok/s")
    totals = rec.last.get("write_totals")
    if totals:
        put("codecs.encoded_bytes", totals["encoded_bytes"], "bytes")
    put("engine.pack_tokens_df_s", w("engine.pack_tokens_df"), "s")
    put("engine.encode_df_s", w("engine.encode_df"), "s")
    put("engine.encode_df_s.ncore", w("engine.encode_df.ncore"), "s")
    put("engine.encode_df_s.1core", w("engine.encode_df.1core"), "s")
    put("engine.decode_df_s", w("engine.decode_df"), "s")
    for metric, span in (("engine.decode_stats_df_s", "engine.decode_stats_df"),
                         ("engine.filter_blocks_df_s", "engine.filter_blocks_df"),
                         ("engine.transform_blocks_chain_s", "engine.transform_blocks_chain"),
                         ("engine.take_blocks_s", "engine.take_blocks")):
        put(metric, w(span), "s")
    put("exchange.salted_s", w("exchange.salted") - w("engine.encode_df"), "s")
    put("exchange.bytes_written", _plan(sp("exchange.salted"), "shuffle_write_bytes"), "bytes")
    put("exchange.pack_bytes_written",
        _plan(sp("packing.pack_examples"), "shuffle_write_bytes"), "bytes")
    write = w("tableio.encode_to_dir")
    if write is not None and lin:
        put("tableio.write_commit_s", write - w("exchange.salted"), "s")
        walls = [r["wall_ms"] for r in lin]
        toks = [r["n_tokens"] for r in lin]
        put("tableio.partition_wall_ms_p50", statistics.median(walls), "ms")
        put("tableio.partition_wall_ms_max", max(walls), "ms")
        put("exchange.partition_tokens_max_over_median", max(toks) / statistics.median(toks),
            "ratio")
        put("tableio.files", len(lin), "count")
        put("tableio.bytes_written", totals["file_bytes"] if totals else None, "bytes")
    lin2 = rec.last.get("resume")
    if lin2:
        put("tableio.resume_skipped", sum(r["status"] == "skipped" for r in lin2), "count")
    # resume plan: writer kernel (rank 0) <- exchange <- encode kernel
    # (rank 1) <- pack_tokens_df (rank 2) <- scan
    put("tableio.resume_bytes_from_python",
        _sql(sp("tableio.encode_to_dir.resume"), "MapInArrow",
             "data returned from Python workers", rank=1), "bytes")
    if w("packing.pack_examples") is not None:
        put("packing.pack_examples_s", w("packing.pack_examples") - w("engine.decode_df"), "s")
    return m


# ---------------------------------------------------------------------------
# self-time tables, tracing overhead, entry point
# ---------------------------------------------------------------------------

def self_time_tables(ctx, probe: Probe, extra: dict) -> dict:
    """Per-layer self time beside each workload's end-to-end wall."""
    w = probe.wall
    n = ctx.cores
    ch, dec = extra["chooser"], extra["decode"]
    tables = {}

    write = w("tableio.encode_to_dir")
    if write is not None:
        S = w("scan.corpus")
        rows = [
            ("scan", S),
            ("arrow", w("arrow.identity.encode") - S),
            # pack_tokens_df's chunking pass: it runs as a second mapInArrow
            # in the encode stage, pipelined with the encode kernel's
            ("engine", w("arrow.identity.encode.packed") - w("arrow.identity.encode")),
            ("chooser", (ch["choose_s"] - ch["encode_s"]) / n),
            ("codecs", ch["encode_s"] / n),
            ("exchange", w("exchange.salted") - w("engine.encode_df")),
            ("tableio", write - w("exchange.salted")),
        ]
        tables["write_mixed"] = (write, rows)

    read_ops = ["engine.decode_stats_df", "packing.pack_examples", "engine.filter_blocks_df",
                "engine.transform_blocks_chain", "engine.take_blocks"]
    durs = [w(o) for o in read_ops]
    if all(d is not None for d in durs):
        Sb = w("scan.snapshot")
        ib = w("arrow.identity.blocks")
        dec_par = dec["decode_s"] / n
        rows = [
            ("scan", 5 * Sb),
            ("arrow", (w("arrow.identity.stats") - Sb) + (w("arrow.identity.decoded") - Sb)
             + 3 * (ib - Sb)),
            ("codecs", 2 * dec_par),
            ("engine", sum(d - ib for d in durs[2:])),
            ("packing", durs[1] - w("engine.decode_df")),
        ]
        tables["read_snapshot"] = (sum(durs), rows)
    return tables


def print_tables(tables: dict) -> None:
    for workload, (total, rows) in tables.items():
        print(f"trace {workload}: end-to-end wall {total:.3f} s")
        for layer, t in rows:
            print(f"trace {workload}:   {layer:<9} self {t:8.3f} s  {100 * t / total:6.1f} %")
        rest = total - sum(t for _, t in rows)
        print(f"trace {workload}:   {'remainder':<9} self {rest:8.3f} s  "
              f"{100 * rest / total:6.1f} %  (unexplained)")


TRACED_OPS = {
    "write_mixed": {"write": "tableio.encode_to_dir", "resume": "tableio.encode_to_dir.resume"},
    "read_snapshot": {"verify": "engine.decode_stats_df", "pack": "packing.pack_examples",
                      "filter": "engine.filter_blocks_df",
                      "chain": "engine.transform_blocks_chain", "take": "engine.take_blocks"},
}


def print_overhead(ctx, probe: Probe, untraced: dict) -> None:
    """Traced wall minus the untraced median, per operation, scaled to this
    corpus's token count. ``untraced`` holds runs of this package on this
    many cores only."""
    T = ctx.meta["fingerprint"]["tokens"]
    for workload, ops in TRACED_OPS.items():
        records = untraced.get(workload) or []
        if not records:
            print(f"trace overhead {workload}: no untraced run of this package recorded")
            continue
        for op, span in ops.items():
            traced = probe.wall(span)
            base = [r["walls"][op] * T / r["tokens"] for r in records if op in r["walls"]]
            if traced is None or not base:
                continue
            ref = statistics.median(base)
            print(f"trace overhead {workload}.{op}: traced {traced:.3f} s - untraced median "
                  f"{ref:.3f} s ({len(base)} runs) = {traced - ref:+.3f} s "
                  f"({100 * (traced - ref) / ref:+.1f} %)")


def untraced_records(workload: str, cores: int) -> list[dict]:
    """Untraced runs recorded in this checkout for this package source
    and core count."""
    package = C.package_hash()
    return [r for r in C.load_records(workload)
            if r.get("package") == package and r.get("cores") == cores]


def run(workload: str, ctx, cal_start: float) -> dict:
    from spans import Tracer

    spark, session_s, warm_s = C.start_session(ctx.cores)
    ctx.prepare(spark, "trace")
    spark, setups = C.warm_setups(spark, ctx.cores)
    ctx.attach(spark)
    tracer = Tracer(spark)
    rec = W.Recorder(tracer)
    probe = Probe(tracer)
    current = {"spark": spark}

    def restart(cores):
        C.stop_session(current["spark"])
        current["spark"], _, _ = C.start_session(cores)
        ctx.attach(current["spark"])
        return current["spark"], ctx.df

    extra = traced_run(ctx, rec, tracer, probe, restart)
    untraced = {w: untraced_records(w, ctx.cores) for w in TRACED_OPS}
    if not untraced.get(workload) and workload in TRACED_OPS:
        # No matching untraced run in this checkout: one untraced iteration here.
        restart(ctx.cores)
        plain = W.Recorder()
        (W.write_iteration if workload == "write_mixed" else W.read_iteration)(ctx, plain)
        rec.add_counts(plain)
        untraced[workload] = [{"tokens": ctx.meta["fingerprint"]["tokens"],
                               "walls": {k: v[0] for k, v in plain.walls.items()}}]
    C.stop_session(current["spark"])
    cal_end = C.calibrate()

    metrics = layer_metrics(probe, extra, rec, (session_s, warm_s), setups)
    C.print_properties(ctx)
    print(f"run: traced, workload {workload}; every probe ran; "
          f"calibration cell {cal_start:.3f} s at start, {cal_end:.3f} s at end")
    lin = rec.last.get("write")
    if lin:
        same = lineage_codec_rows(lin) == extra["chooser"]["rows_by_codec"]
        print(f"trace chooser: in-process codec rows {'match' if same else 'DIFFER from'} "
              f"the write lineage's codec_histogram")
    print_tables(self_time_tables(ctx, probe, extra))
    print_overhead(ctx, probe, untraced)
    print_scaling(ctx, metrics)
    for name, (value, unit) in metrics.items():
        print(f"layer {name} = {value:.6g} {unit}")
    for f in rec.failures:
        print(f"FAILED {f}")
    os.makedirs(os.path.join(C.STATE, "trace"), exist_ok=True)
    tracer.dump(os.path.join(C.STATE, "trace", f"{workload}-s{ctx.seed}.json"))
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def print_scaling(ctx, metrics: dict) -> None:
    """The scan-parallel encode and its Arrow boundary at 1 and n cores."""
    n = C.host_cores()
    for name in ("arrow.identity_s", "engine.encode_df_s"):
        if f"{name}.1core" not in metrics or f"{name}.ncore" not in metrics:
            continue
        t1, tn = metrics[f"{name}.1core"][0], metrics[f"{name}.ncore"][0]
        print(f"trace scaling {name}: 1 core {t1:.3f} s, {n} cores {tn:.3f} s, "
              f"1->{n} efficiency {t1 / tn / n:.3f}")
