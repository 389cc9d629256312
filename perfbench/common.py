"""Shared plumbing for the layer-attributed benchmark: host sizing, the
Spark session, the calibration cell, the seeded corpus cache and its
oracles.

Everything the benchmark writes lives under ``.perfbench/`` in the
checkout it runs from (corpus cache, snapshots, Spark scratch, temp files).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "rle_array_spark")
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")

# Corpus sizing. Each seed draws CANDIDATE_BLOCKS generator blocks of 30
# rows per source and keeps the N_BLOCKS of them whose token total is
# closest to TARGET_TOKENS: one giant row per block makes a block's size
# swing by 3x, and a fixed-size corpus keeps seed-to-seed spread down to
# the system's own. ~2.8 M tokens (~7 MB of snappy parquet, one file per
# block) fits in RAM and the page cache, and is small enough that every
# run of every workload fits the benchmark's time budget.
CANDIDATE_BLOCKS = 16
N_BLOCKS = 8
ROWS_PER_SOURCE = 30
TARGET_TOKENS = 2_800_000
# Seed s draws generator blocks [BLOCK_BASE*(s+1), BLOCK_BASE*(s+1)+16):
# disjoint per seed and from the low block ids the test suite uses, so
# ``datagen.SEED`` never changes.
BLOCK_BASE = 1000

# Spark packs small files into one scan split up to maxPartitionBytes,
# charging a 4 MiB open cost per file. At 16 MiB (the engine default) the
# 8 ~0.8 MB corpus files collapse into 3 scan tasks; at 4 MiB each file is
# its own task (4 per core in local[2], 2 per core in local[4]).
MAX_PARTITION_BYTES = 4 << 20

PACK_SEQ_LEN = 512
FILTER_PRED = [("mod", 7), ("floordiv", 3)]  # keeps x where x % 7 >= 3
CHAIN = [("add", 7), ("mul", 3), ("mod", 251)]
TAKE_STRIDE = 8
HASH_MOD = 1 << 40  # per-row hash residue; 10^4 rows x 2^40 fits a long


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def bench_cores() -> int:
    """Cores of the workloads' sessions: half the host's, at least one.
    At this corpus size the jobs are latency-bound: on a 4-vCPU host write
    and resume ran 10-15% faster in local[2] than in local[4], and a read
    iteration as fast with ~35% less CPU. The JVM's compiler and GC threads
    and the driver keep the other cores instead of preempting task threads.
    The traced run measures 1 -> host_cores() scaling separately."""
    return max(1, host_cores() // 2)


def host_driver_memory() -> str:
    """A quarter of physical RAM, capped at 4 GiB: the driver heap is the
    executor heap in local mode, and the box is shared."""
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(4096, kib // 4096)}m"


def prepare_env() -> None:
    """Point Spark, its Python workers and temp files at the checkout.
    Must run before the first SparkSession is created."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # workers import the package and this directory's probe kernels
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, here] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides engine.session's spark.local.dir
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no JVM writes its perf file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false --driver-java-options "
        f"'-XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def package_hash() -> str:
    """Hash of the package sources: keys every cache that holds output of
    the code under test (snapshots, package-computed oracles)."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def datagen_hash() -> str:
    with open(os.path.join(PACKAGE, "datagen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def calibrate() -> float:
    """bench.py's numpy calibration cell (sort + searchsorted over 8 M
    int64, the kernel's op mix), one sample. Recorded at the start and end
    of every run as a property of the box, not a metric."""
    import numpy as np

    x = np.random.default_rng(0).integers(0, 1 << 20, size=8_000_000)
    t0 = time.monotonic()
    s = np.sort(x)
    idx = np.searchsorted(s, x[:1_000_000])
    dt = time.monotonic() - t0
    _ = int(idx.sum())
    return dt


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def start_session(cores: int):
    """Host-sized ``engine.session`` plus Python-worker warm-up. Returns
    (spark, session_s, warm_s)."""
    from rle_array_spark import engine

    t0 = time.monotonic()
    spark = engine.session(
        app=f"perfbench-local{cores}",
        cores=cores,
        shuffle_partitions=4 * cores,
        max_partition_bytes=MAX_PARTITION_BYTES,
        driver_memory=host_driver_memory(),
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.monotonic()
    # bench.py's warm-up, extended to every package module the workloads'
    # kernels import: no timed job pays worker start-up or imports.
    tiny = spark.range(cores * 4).selectExpr(
        "cast(id as string) doc_id", "array(1, 2, 2, 3) tokens", "4 n_tok", "'warm' source"
    )
    blocks = engine.encode_df(tiny.repartition(cores * 2), codec="auto")
    blocks.mapInArrow(_import_kernels, blocks.schema).count()
    return spark, t1 - t0, time.monotonic() - t1


def _import_kernels(batches):
    import rle_array_spark.packing  # noqa: F401
    import rle_array_spark.tableio  # noqa: F401

    yield from batches


def stop_session(spark) -> None:
    spark.stop()


# The JVM-launching set-up is a run's first and slowest; ``setup_s`` is
# the median of this many later set-ups in the running JVM.
WARM_SETUPS = 3


def warm_setups(spark, cores: int) -> tuple[object, list[tuple[float, float]]]:
    """Stop ``spark`` and set up WARM_SETUPS sessions one after another,
    keeping the last. Returns (spark, [(session_s, warm_s), ...])."""
    setups = []
    for _ in range(WARM_SETUPS):
        stop_session(spark)
        spark, s, w = start_session(cores)
        setups.append((s, w))
    return spark, setups


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Seeded corpus cache
# ---------------------------------------------------------------------------

def corpus_key(seed: int) -> str:
    return f"s{seed}-b{N_BLOCKS}of{CANDIDATE_BLOCKS}-r{ROWS_PER_SOURCE}-{datagen_hash()}"


def block_summary(batch) -> dict:
    """Content summary of one generator block (a pyarrow RecordBatch)."""
    import numpy as np

    n_tok = batch.column("n_tok").to_numpy()
    per_source: dict[str, int] = {}
    for src, n in zip(batch.column("source").to_pylist(), n_tok):
        per_source[src] = per_source.get(src, 0) + int(n)
    ids = sorted(batch.column("doc_id").to_pylist())
    return {
        "rows": batch.num_rows,
        "tokens": int(n_tok.sum()),
        "tok_sum": int(batch.column("tokens").flatten().to_numpy().astype(np.int64).sum()),
        "longest": int(n_tok.max()),
        "doc_ids_sha": hashlib.sha256("\n".join(ids).encode()).hexdigest(),
        "per_source": per_source,
    }


def fingerprint(summaries: list[dict]) -> dict:
    """Corpus fingerprint from its block summaries in block order."""
    return {
        "rows": sum(b["rows"] for b in summaries),
        "tokens": sum(b["tokens"] for b in summaries),
        "tok_sum": sum(b["tok_sum"] for b in summaries),
        "doc_ids_sha256": hashlib.sha256(
            "".join(b["doc_ids_sha"] for b in summaries).encode()
        ).hexdigest(),
    }


def select_blocks(tokens: list[int]) -> list[int]:
    """Indices of the N_BLOCKS candidate blocks whose token total is
    closest to TARGET_TOKENS (first such set in lexicographic order)."""
    from itertools import combinations

    best = min(combinations(range(len(tokens)), N_BLOCKS),
               key=lambda c: abs(sum(tokens[i] for i in c) - TARGET_TOKENS))
    return list(best)


def generate_corpus(seed: int) -> tuple[list, list[dict], list[int]]:
    """The seed's CANDIDATE_BLOCKS generator blocks (pyarrow RecordBatches),
    their summaries, and the indices of the N_BLOCKS kept. In-process, no
    Spark; the benchmark and pin_fingerprints.py both generate through it."""
    from rle_array_spark import datagen

    base = BLOCK_BASE * (seed + 1)
    batches = [datagen.generate_block(base + i, ROWS_PER_SOURCE) for i in range(CANDIDATE_BLOCKS)]
    summaries = [block_summary(b) for b in batches]
    return batches, summaries, select_blocks([b["tokens"] for b in summaries])


def ensure_corpus(seed: int) -> tuple[str, dict]:
    """Generate (untimed) or reuse the corpus of ``seed``: one parquet file
    per kept generator block. Returns (dir, meta) where meta holds the
    content fingerprint and the workload properties."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rle_array_spark import datagen

    final = os.path.join(STATE, "corpus", corpus_key(seed))
    meta_path = os.path.join(final, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return final, json.load(f)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    batches, summaries, keep = generate_corpus(seed)
    blocks = [summaries[i] for i in keep]
    file_bytes = 0
    for i in keep:
        path = os.path.join(tmp, f"part-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_batches([batches[i]]).cast(
                datagen.ARROW_SCHEMA.with_metadata(None), safe=False),
            path,
        )
        file_bytes += os.path.getsize(path)
    per_source: dict[str, int] = {}
    for b in blocks:
        for src, n in b["per_source"].items():
            per_source[src] = per_source.get(src, 0) + n
    fp = fingerprint(blocks)
    meta = {
        "seed": seed,
        "blocks": [BLOCK_BASE * (seed + 1) + i for i in keep],
        "rows_per_source": ROWS_PER_SOURCE,
        "fingerprint": fp,
        "token_share": {s: n / fp["tokens"] for s, n in sorted(per_source.items())},
        "giant_token_share": per_source.get("giant", 0) / fp["tokens"],
        "longest_row": max(b["longest"] for b in blocks),
        "parquet_bytes": file_bytes,
        "files": len(blocks),
    }
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final, meta


def check_fingerprint(meta: dict) -> str:
    """'pinned' when the seed's recorded fingerprint matches, 'unpinned'
    when the seed has none recorded; raises when it drifted."""
    with open(FINGERPRINTS) as f:
        pinned = json.load(f)["seeds"].get(str(meta["seed"]))
    if pinned is None:
        return "unpinned"
    if pinned != meta["fingerprint"]:
        raise SystemExit(
            f"corpus fingerprint drifted for seed {meta['seed']}: "
            f"recorded {pinned}, generated {meta['fingerprint']}"
        )
    return "pinned"


def read_corpus(spark, corpus_dir: str):
    return spark.read.parquet(*sorted(glob.glob(os.path.join(corpus_dir, "part-*.parquet"))))


# ---------------------------------------------------------------------------
# Oracles (computed untimed, cached)
# ---------------------------------------------------------------------------

def _cached(path: str, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    with open(path + ".tmp", "w") as f:
        json.dump(value, f, indent=1)
    os.replace(path + ".tmp", path)
    return value


def corpus_tokens(corpus_dir: str):
    """The raw corpus in-process: (doc_ids, row offsets, flat int64 tokens)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.concat_tables(
        pq.read_table(p, columns=["doc_id", "tokens"])
        for p in sorted(glob.glob(os.path.join(corpus_dir, "part-*.parquet")))
    ).combine_chunks()
    tokens = table.column("tokens").chunk(0)
    return (table.column("doc_id").to_pylist(), tokens.offsets.to_numpy().astype(np.int64),
            tokens.values.to_numpy().astype(np.int64))


def corpus_oracles(corpus_dir: str) -> dict:
    """bench.py's decoded-array arms for filter / chain / take, evaluated
    in numpy over the raw corpus tokens with SQL's integer semantics
    (``%`` truncates, so np.fmod). Depends on the corpus only."""
    import numpy as np

    def compute():
        _, offsets, x = corpus_tokens(corpus_dir)
        keep = np.fmod(x, 7) >= 3
        pos = np.arange(len(x)) - np.repeat(offsets[:-1], np.diff(offsets))
        return {
            "filter_sum": int(x[keep].sum()),
            "filter_count": int(keep.sum()),
            "chain_sum": int(np.fmod((x + 7) * 3, 251).sum()),
            "take_sum": int(x[pos % TAKE_STRIDE == 0].sum()),
        }

    return _cached(os.path.join(corpus_dir, "_oracles.json"), compute)


def source_totals_oracle(spark, corpus_dir: str) -> dict:
    """Per-source rows/tokens/tok_sum of the raw corpus from
    ``engine.tokens_stats_df`` (package code, so cached per package hash)."""
    from pyspark.sql import functions as F

    from rle_array_spark import engine

    def compute():
        stats = engine.tokens_stats_df(read_corpus(spark, corpus_dir))
        return {
            r["source"]: {"rows": int(r["rows"]), "tokens": int(r["tokens"]),
                          "tok_sum": int(r["tok_sum"])}
            for r in stats.groupBy("source").agg(
                F.count("*").alias("rows"),
                F.sum(F.col("n_tok").cast("long")).alias("tokens"),
                F.sum("tok_sum").alias("tok_sum"),
            ).collect()
        }

    return _cached(os.path.join(corpus_dir, f"_sources-{package_hash()}.json"), compute)


def pack_oracle(spark, corpus_dir: str) -> dict:
    """Digest of ``pack_examples`` over the undecoded corpus: what decode ->
    pack must reproduce (package code, so cached per package hash)."""
    from rle_array_spark import packing

    def compute():
        raw = read_corpus(spark, corpus_dir).select("doc_id", "source", "tokens")
        return pack_digest(packing.pack_examples(raw, seq_len=PACK_SEQ_LEN))

    return _cached(os.path.join(corpus_dir, f"_pack-{package_hash()}.json"), compute)


def pack_digest(packed) -> dict:
    from pyspark.sql import functions as F

    row = packed.agg(
        F.count("*").alias("examples"),
        F.sum("n_pieces").alias("pieces"),
        F.sum(F.size("tokens").cast("long")).alias("tokens"),
        F.sum(F.pmod(F.xxhash64("shard", "example_id", "tokens"), F.lit(HASH_MOD))).alias("hash"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in row.asDict()}


def stats_digest(stats) -> dict:
    """Order-insensitive digest of per-block (doc_id, n_tok, tok_sum,
    tok_wsum) rows."""
    from pyspark.sql import functions as F

    row = stats.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("n_tok").cast("long")).alias("tokens"),
        F.sum("tok_sum").alias("tok_sum"),
        F.sum(F.pmod(
            F.xxhash64("doc_id", "n_tok", "tok_sum", "tok_wsum"), F.lit(HASH_MOD)
        )).alias("hash"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in row.asDict()}


def write_snapshot(df, out_dir: str, cores: int) -> list[dict]:
    """The write_mixed call; also writes the snapshot read_snapshot reads."""
    from rle_array_spark import tableio

    return tableio.encode_to_dir(
        df, out_dir, codec="auto", num_partitions=2 * cores,
        chunk_tokens="auto", commit_mode="manifest",
    )


def snapshot_meta(out_dir: str):
    """The committed snapshot's block metadata (pyarrow, no Spark) and its
    data-file bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rle_array_spark import tableio

    snap = tableio.read_snapshot(out_dir)
    paths = [os.path.join(out_dir, "blocks", f) for f in snap["files"]]
    cols = ["doc_id", "source", "n_values", "tok_sum", "raw_bytes", "encoded_bytes",
            "ref_rle_bytes", "chunk_idx", "chunk_offset", "codec"]
    table = pa.concat_tables([pq.read_table(p, columns=cols) for p in paths])
    return table, sum(os.path.getsize(p) for p in paths)


def ensure_read_snapshot(spark, corpus_dir: str, seed: int, cores: int) -> tuple[str, dict]:
    """The snapshot read_snapshot reads: written by the code under test and
    cached only under the package-source hash. Returns (dir, oracles) where
    the oracle is the per-block stats digest computed from raw corpus slices
    at the snapshot's chunk boundaries, after checking that the chunks tile
    every document exactly."""
    out = os.path.join(STATE, "snapshot", f"{corpus_key(seed)}-{package_hash()}-p{2 * cores}")
    done = os.path.join(out, "_perfbench_oracle.json")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    write_snapshot(read_corpus(spark, corpus_dir), out, cores)
    oracle = {"verify": verify_oracle(spark, corpus_dir, out)}
    with open(done + ".tmp", "w") as f:
        json.dump(oracle, f)
    os.replace(done + ".tmp", done)
    return out, oracle


def verify_oracle(spark, corpus_dir: str, out_dir: str) -> dict:
    """Digest of the per-chunk stats that decode_stats_df must return,
    computed in-process from the raw corpus tokens sliced at the snapshot's
    chunk boundaries; only the digest itself (Spark's xxhash64) runs in
    Spark, over the few thousand resulting rows."""
    import numpy as np

    meta, _ = snapshot_meta(out_dir)
    doc_ids, offsets, flat = corpus_tokens(corpus_dir)
    start = {d: (int(offsets[i]), int(offsets[i + 1] - offsets[i]))
             for i, d in enumerate(doc_ids)}
    chunks: dict[str, list[tuple[int, int, int]]] = {}
    for d, ci, off, n in zip(
        meta.column("doc_id").to_pylist(), meta.column("chunk_idx").to_pylist(),
        meta.column("chunk_offset").to_pylist(), meta.column("n_values").to_pylist(),
    ):
        chunks.setdefault(d, []).append((ci, off, n))
    if set(chunks) != set(start):
        raise RuntimeError("snapshot documents differ from the corpus")
    rows = []
    for d, cs in chunks.items():
        base, n_tok = start[d]
        pos = 0
        for _ci, off, n in sorted(cs):
            if off != pos:
                raise RuntimeError(f"chunks of {d} do not tile the document")
            t = flat[base + off: base + off + n]
            rows.append((d, n, int(t.sum()), int(t @ np.arange(1, n + 1, dtype=np.int64))))
            pos += n
        if pos != n_tok:
            raise RuntimeError(f"chunks of {d} cover {pos} of {n_tok} tokens")
    stats = spark.createDataFrame(rows, "doc_id string, n_tok int, tok_sum long, tok_wsum long")
    return stats_digest(stats)


# ---------------------------------------------------------------------------
# Report and run records
# ---------------------------------------------------------------------------

def print_properties(ctx) -> None:
    m = ctx.meta
    fp = m["fingerprint"]
    print(f"corpus: seed {ctx.seed} -> generator blocks {m['blocks']}, "
          f"{m['rows_per_source']} rows/source; fingerprint {ctx.pinned}: rows {fp['rows']}, "
          f"tokens {fp['tokens']}, tok_sum {fp['tok_sum']}, "
          f"doc_ids sha256 {fp['doc_ids_sha256'][:16]}")
    print(f"corpus: {fp['tokens'] / 1e6:.2f} M tokens fits in RAM and the page cache "
          f"(an earlier 45 M-token probe was ~16x larger; see NOTES.md)")
    share = ", ".join(f"{s} {v:.3f}" for s, v in m["token_share"].items())
    print(f"corpus: token share {share}; giant-row share {m['giant_token_share']:.3f}; "
          f"longest row {m['longest_row']}")
    print(f"corpus: {m['parquet_bytes']} bytes of snappy parquet in {m['files']} files, "
          f"{ctx.scan_tasks} scan tasks on {ctx.cores} cores")
    print(f"prepare (untimed): corpus {ctx.prep[0]:.2f} s, oracles and snapshot "
          f"{ctx.prep[1]:.2f} s")


def save_record(workload: str, record: dict) -> None:
    d = os.path.join(STATE, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")


def load_records(workload: str) -> list[dict]:
    path = os.path.join(STATE, "results", f"{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
