"""CSR-blocked PageRank kernel (the north-star fast path).

Distributed **edge blocks** + driver-held **vertex state**: the (src,
dst) edge pairs are bucketed once by ``dst % nblocks`` into per-task
shard files written **by the Python workers themselves** — one
``mapInPandas`` pass over the canonical frame's existing partitions,
each task streaming its Arrow batches straight to raw per-bucket
``(src, dst_local)`` column files (no repartition shuffle, no Parquet
encode, and crucially no Hadoop commit protocol: round 2 measured the
driver-serial commit/rename of a JVM dynamic-partitioned Parquet write
as a FLAT ~70 s phase at 2, 8 and 32 cores — the entire N→4N scaling
miss; plain worker-side file writes are embarrassingly parallel).
Each iteration broadcasts the dense rank vector (ids are dense 0..n-1
by construction — see ids.py) and every bucket task computes its gather
with a vectorized ``np.bincount`` over its mmapped shard columns inside
an RDD ``mapPartitions`` over the ~nblocks-item bucket→paths control
list (a DataFrame here re-paid Catalyst planning + Arrow stream setup
every iteration — ~0.6 s/job of measured core-count-independent fixed
cost). Shards store **bucket-local dst indices**
(``dst // nblocks``), so the per-shard accumulator is ``n/nblocks``
doubles — L2-resident instead of an n-length memset per shard. Because
each dst belongs to exactly one bucket, each vertex's partial arrives
from exactly one task: the per-iteration data movement is one n-vector
broadcast out and nblocks dense float64 buffers (8n bytes total)
collected back — **no join and no shuffle anywhere in the fit**.

This is the right physical strategy while the vertex state fits the
driver/executor memory (8 bytes/vertex: ~80 MB at 10^7). Beyond
``csr_max_vertices`` the caller falls back to the pure-dataflow join
kernel in pagerank.py, which has no such cap. Driver-side numpy updates
also make score sums bit-deterministic at any parallelism (fixed
summation order), strictly stronger than the 1e-6 allclose contract.

This module holds the kernel's setup and power step
(:class:`CsrKernel`); ``pagerank()`` in pagerank.py owns the turn loop,
seeds, resume, checkpoints, progress and the metrics rows. Semantics are
identical to the join kernel there (same sink policies / teleport / init
/ update rule); csr/join equality is pinned by the parametrized cases in
tests/test_pagerank.py (impl="csr" vs impl="join").

Cluster-safety: edge blocks live under the SparkContext checkpoint
directory (set by session.get_spark / setCheckpointDir). When that
directory is a plain/``file:`` path (local mode, or a shared mount on a
cluster) the parallel worker-side writer above is used. When it is a
remote Hadoop FS (hdfs://, s3://) — where Python workers cannot
``open()`` paths — the build falls back to a JVM dynamic-partitioned
Parquet write, block paths are discovered via inputFiles() and read
with pyarrow's URI-aware reader, so the same code runs everywhere; the
commit-protocol cost is then the FS's problem (object-store committers,
not the local-rename path measured here).
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time
import uuid as _uuid
from collections.abc import Iterator
from contextlib import ExitStack

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propagon_spark.graph.core import Graph
from propagon_spark.plans.iterate import STORAGE


#: worker-process block cache: {(fit_token, block_file): (src, dst)}.
#: The per-iteration input to Python workers is only a frame of BLOCK
#: FILE PATHS — re-shipping 10^7-10^8 Arrow rows JVM→Python every
#: iteration is exactly what this avoids. Local blocks are pyarrow-
#: decoded to ``.npy`` sidecars once and then MEMORY-MAPPED: the OS page
#: cache holds the single shared copy for every worker on the node, so
#: the unstable task→worker binding costs an mmap open, not a Parquet
#: decode. Remote (hdfs://, s3://) blocks fall back to a per-process
#: materialized cache under the byte budget below.
_BLOCK_CACHE: dict = {}

#: per-worker cache budget in bytes (task→worker binding is not stable,
#: so a worker can accumulate many blocks over a long fit; evict FIFO
#: beyond this). Uncached blocks are re-read from Parquet — cheap.
_CACHE_BYTES = 2_000_000_000

#: per-worker cap on cached mmap ENTRIES: each np.load(mmap_mode="r")
#: holds an open file descriptor until evicted, and a long fit can walk a
#: worker across many buckets' shards (unstable task→worker binding).
#: 512 entries = 1024 fds worst case, inside a default RLIMIT_NOFILE;
#: eviction costs one re-mmap on the next touch, no decode.
_MMAP_CACHE_ENTRIES = 512


def _cache_size() -> int:
    # memmapped entries are page-cache-backed, not process-private
    return sum(
        sum(a.nbytes for a in arrs)
        for arrs in _BLOCK_CACHE.values()
        if not isinstance(arrs[0], np.memmap)
    )


def _as_local_path(path: str) -> str | None:
    """Plain or ``file:`` path → POSIX path; other schemes → None."""
    if path.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(path).path
    if "://" not in path and not path.startswith(("hdfs:", "s3:", "s3a:")):
        return path
    return None


#: sidecar suffixes: src column + BUCKET-LOCAL dst column (dst//nblocks)
_SIDECARS = (".src", ".dstl")


def _read_parquet_block(path: str, nblocks: int):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["src", "dst"])
    # no ordering requirement: the gather is an order-insensitive
    # np.bincount scatter-add. dst is localized to its bucket here so the
    # gather accumulator is n/nblocks long regardless of block origin.
    dst = t.column("dst").to_numpy()
    return (
        np.ascontiguousarray(t.column("src").to_numpy()),
        np.ascontiguousarray(dst // nblocks),
    )


def _cache_put_mmap(key, arrs):
    # mmaps hold no process-private memory (page-cache-backed), but
    # each holds an open fd — cap ENTRIES, not bytes
    token = key[0]
    _BLOCK_CACHE[key] = arrs
    for k in list(_BLOCK_CACHE):
        if k[0] != token:
            del _BLOCK_CACHE[k]
    while len(_BLOCK_CACHE) > _MMAP_CACHE_ENTRIES:
        _BLOCK_CACHE.pop(next(iter(_BLOCK_CACHE)))


def _load_block(token: str, path: str, nblocks: int, ext: str):
    """Return ``(src, dst_local)`` columns for one shard/block.

    ``path`` is either a raw shard PREFIX written by the parallel
    worker-side builder (columns at ``<prefix>.src.<ext>`` /
    ``<prefix>.dstl.<ext>``, raw little-endian ``ext``∈{i32,i64}) or a
    Parquet block file from the portable JVM writer.
    """
    key = (token, path)
    arrs = _BLOCK_CACHE.get(key)
    if arrs is not None:
        return arrs

    local = _as_local_path(path)
    dtype = np.int32 if ext == "i32" else np.int64

    if local is not None and not path.endswith(".parquet"):
        # raw shard prefix from the parallel builder — mmap directly.
        # Task→worker binding is unstable, so per-PROCESS caches miss
        # constantly; memory-mapped columns make the OS page cache the
        # single shared copy across every Python worker on the node — a
        # re-"load" after the first touch is two mmap opens, no
        # decompress, no copy.
        arrs = tuple(
            np.memmap(f"{local}{s}.{ext}", dtype=dtype, mode="r")
            if os.path.getsize(f"{local}{s}.{ext}")
            else np.empty(0, dtype=dtype)
            for s in _SIDECARS
        )
        _cache_put_mmap(key, arrs)
        return arrs

    if local is not None:
        # local Parquet block (portable writer on a file: checkpoint
        # dir): converted to npy sidecars by the first toucher (atomic
        # renames; racers convert redundantly and lose), mmapped after.
        sidecars = [f"{local}{s}.npy" for s in _SIDECARS]
        if not all(os.path.exists(s) for s in sidecars):
            cols = _read_parquet_block(local, nblocks)
            for s, a in zip(sidecars, cols):
                tmp = f"{s}.tmp.{os.getpid()}"
                with open(tmp, "wb") as f:
                    np.save(f, a)
                os.replace(tmp, s)
        arrs = tuple(np.load(s, mmap_mode="r") for s in sidecars)
        _cache_put_mmap(key, arrs)
        return arrs

    # remote block (hdfs:// etc.): materialized per-process cache with a
    # FIFO budget (dicts preserve insertion order; keep the newest entry)
    arrs = _read_parquet_block(path, nblocks)
    for k in list(_BLOCK_CACHE):
        if k[0] != token:
            del _BLOCK_CACHE[k]
    _BLOCK_CACHE[key] = arrs
    while _cache_size() > _CACHE_BYTES and len(_BLOCK_CACHE) > 1:
        _BLOCK_CACHE.pop(next(iter(_BLOCK_CACHE)))
    return arrs


def _shared_mount_probe(spark, local_dir: str) -> bool:
    """True iff every executor can read a file the driver just wrote
    under ``local_dir``.

    The fast worker-side shard writer requires the ``file:`` checkpoint
    dir to be a SHARED mount on a multi-node cluster — a node-local path
    would hold shards that gather tasks on other nodes cannot open
    (FileNotFoundError mid-iteration, round-3 verdict). Local masters
    trivially share the driver's filesystem and skip the probe; on a
    cluster this runs one tiny job (one task per default-parallelism
    slot) that checks visibility from every node the job lands on and
    reports the hostnames that cannot see the file.
    """
    sc = spark.sparkContext
    if sc.master.startswith("local"):
        return True
    os.makedirs(local_dir, exist_ok=True)
    probe = os.path.join(local_dir, f"_mount_probe_{_uuid.uuid4().hex}")
    with open(probe, "w") as f:
        f.write("propagon-csr shared-mount probe")
    try:
        import socket

        def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            seen = os.path.exists(probe)
            yield pd.DataFrame(
                {"host": [socket.gethostname()], "ok": [bool(seen)]}
            )

        width = max(2, sc.defaultParallelism)
        rows = (
            spark.range(width)
            .repartition(width)
            .mapInPandas(check, schema="host string, ok boolean")
            .collect()
        )
        bad = sorted({r["host"] for r in rows if not r["ok"]})
        if bad:
            import logging

            logging.getLogger("propagon_spark.pagerank").warning(
                "checkpoint dir %s is NOT a shared mount (invisible from "
                "node(s) %s) — falling back to the portable JVM Parquet "
                "block writer; point the checkpoint dir at a shared "
                "filesystem (NFS/HDFS/S3) to re-enable the fast "
                "worker-side shard path",
                local_dir, ", ".join(bad),
            )
        return not bad
    finally:
        try:
            os.remove(probe)
        except OSError:
            pass


def _shard_writer_factory(blocks_dir: str, nblocks: int, np_dtype, ext: str):
    """Parallel worker-side shard build (the scaling fix).

    One ``mapInPandas`` pass over the canonical frame: each task splits
    its partition's Arrow batches by ``dst % nblocks`` and appends the
    ``(src, dst // nblocks)`` columns to raw per-(task, bucket) files —
    plain streamed ``ndarray.tofile`` appends, O(batch) memory, no
    Parquet encode, no commit protocol. Files are written under
    temp names and atomically renamed at task end, so task retries are
    safe (a retry overwrites with identical content). Yields one
    ``(bucket, path-prefix)`` row per non-empty bucket.
    """

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId()
        tmp_sfx = f".tmp{tc.attemptNumber()}.{os.getpid()}"
        os.makedirs(blocks_dir, exist_ok=True)
        handles: dict[int, tuple] = {}
        edge = np.arange(nblocks + 1)
        for pdf in batches:
            src = pdf["src"].to_numpy()
            dst = pdf["dst"].to_numpy()
            b = dst % nblocks
            order = np.argsort(b, kind="stable")
            bs = b[order]
            ssrc = src[order].astype(np_dtype, copy=False)
            sdstl = (dst[order] // nblocks).astype(np_dtype, copy=False)
            bounds = np.searchsorted(bs, edge)
            for bucket in range(nblocks):
                lo, hi = bounds[bucket], bounds[bucket + 1]
                if lo == hi:
                    continue
                h = handles.get(bucket)
                if h is None:
                    prefix = os.path.join(
                        blocks_dir, f"shard_p{pid:05d}_b{bucket:05d}"
                    )
                    h = (
                        prefix,
                        open(f"{prefix}.src.{ext}{tmp_sfx}", "wb"),
                        open(f"{prefix}.dstl.{ext}{tmp_sfx}", "wb"),
                    )
                    handles[bucket] = h
                ssrc[lo:hi].tofile(h[1])
                sdstl[lo:hi].tofile(h[2])
        rows = []
        for bucket, (prefix, fsrc, fdstl) in handles.items():
            fsrc.close()
            fdstl.close()
            for s in _SIDECARS:
                os.replace(f"{prefix}{s}.{ext}{tmp_sfx}", f"{prefix}{s}.{ext}")
            rows.append((bucket, prefix))
        if rows:
            yield pd.DataFrame(rows, columns=["bucket", "path"])

    return write


def _gather_factory(n: int, nblocks: int, ext: str, rank_bc, token: str):
    """Per-partition SpMV gather over the 32-row control RDD. Each item
    carries one bucket's ';'-joined shard prefixes / block files (all
    edges with the same ``dst % nblocks``); buckets partition the dst
    space, so each dst is owned by exactly one task and the driver can
    assign (not add) the collected partials. Shards hold bucket-local
    dst indices, so the accumulator is ceil(n/nblocks) doubles —
    cache-resident.

    The task returns its accumulator as ONE dense float64 buffer per
    bucket (~n/nblocks · 8 bytes), not (dst, m) rows: an n-row Arrow
    collect plus pandas frame construction was ~1 s of per-iteration
    FIXED cost at n=10⁶ (measured — the serial term that capped N→4N
    efficiency once the block write scaled); ~nblocks binary tuples
    assemble on the driver with strided numpy assignment instead.

    This is a plain RDD ``mapPartitions`` body, not a pandas UDF: the
    control plane is ~nblocks tiny rows per iteration, and routing them
    through a DataFrame re-ran Catalyst analysis/optimization/codegen
    plus Arrow stream setup EVERY iteration — ~0.6 s of measured
    per-job fixed cost at any core count, the dominant gather term at 8
    cores (see BENCH/RUNS.md round-4 phase tables). The data plane (the
    edge blocks, where the 222M-edge SpMV actually runs) stays mmap'd
    raw columns + ``np.bincount``; only the bucket→paths routing rides
    the RDD."""
    nlocal = (n + nblocks - 1) // nblocks

    def gather(items: Iterator[tuple]) -> Iterator[tuple]:
        pdiv = rank_bc.value  # p·inv_out, division pre-folded on driver
        for bucket, paths in items:
            acc = np.zeros(nlocal)
            for path in paths.split(";"):
                src, dstl = _load_block(token, path, nblocks, ext)
                if len(dstl) == 0:
                    continue
                acc += np.bincount(
                    dstl, weights=pdiv[src], minlength=nlocal
                )
            yield int(bucket), acc.tobytes()

    return gather


def _write_blocks(spark, edges: DataFrame, n: int, release: ExitStack):
    """Bucket ``edges`` into block files by ``dst % nblocks``; returns
    ``(blocks_rdd, nblocks, ext)``, where ``blocks_rdd`` holds one
    ``(bucket, ';'-joined block paths)`` item per bucket. The block dir's
    deletion is registered on ``release`` before the first file lands."""
    sc = spark.sparkContext
    # materialize dst-partitioned CSR block files once; workers mmap and
    # cache their blocks, so per-iteration traffic is one rank-vector
    # broadcast out and one n-row Arrow collect back. Blocks hold ONLY
    # (src, dst) — int32 below 2^31 vertices, 8 bytes/edge — because the
    # inverse out-degree is folded into the broadcast on the DRIVER
    # (p·inv_out is n multiplies), so the block build needs no join and
    # every iteration streams a third of the bytes. Blocks live under
    # the session checkpoint dir (a path all executors can read — on a
    # cluster that's HDFS/S3 or a shared mount, never the driver's /tmp).
    ckdir = sc.getCheckpointDir()
    if ckdir:
        blocks_dir = ckdir.rstrip("/") + f"/csr_blocks_{_uuid.uuid4().hex}"
    else:
        blocks_dir = tempfile.mkdtemp(prefix="propagon_csr_")
    release.callback(_hadoop_rm, spark, blocks_dir)
    # Bucket count is a LAYOUT parameter, decoupled from the core count
    # (round 2 coupled it to defaultParallelism, which confounded N→4N
    # scaling runs: different levels wrote different file/bucket layouts).
    # Default: enough buckets for full parallelism at the session's width,
    # never fewer than 16 so narrow sessions still produce a layout a
    # wider reader can use; pin via PROPAGON_CSR_NBLOCKS for controlled
    # comparisons (BENCH/scaling.py pins 32 at every level).
    nblocks = int(os.environ.get("PROPAGON_CSR_NBLOCKS", "0")) or max(
        16, sc.defaultParallelism
    )
    ext = "i32" if n <= 2**31 - 1 else "i64"
    np_dtype = np.int32 if ext == "i32" else np.int64
    id_type = "int" if ext == "i32" else "long"

    by_bucket: dict[int, list[str]] = {}
    local_blocks_dir = _as_local_path(blocks_dir)
    if local_blocks_dir is not None and not _shared_mount_probe(
        spark, local_blocks_dir
    ):
        local_blocks_dir = None  # node-local path on a cluster: portable path
    if local_blocks_dir is not None:
        # FAST PATH (plain/file: checkpoint dir — local mode or a shared
        # mount): parallel worker-side raw shard write. One mapInPandas
        # pass over the canonical frame's existing partitions; every task
        # streams its own per-bucket files — no repartition shuffle, no
        # Parquet encode, and NO Hadoop commit protocol. Round 2's JVM
        # dynamic-partitioned Parquet write spent ~70 s FLAT at 2/8/32
        # cores in the driver-serial commit/rename of partitions×nblocks
        # files; the Arrow feed this pass pays instead is ~28 core-s per
        # 10^8 rows — parallel, so it actually scales with cores.
        os.makedirs(local_blocks_dir, exist_ok=True)
        conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old_batch = spark.conf.get(conf_key, "10000")
        spark.conf.set(conf_key, str(1 << 20))  # fewer, larger batches
        try:
            rows = (
                edges.select("src", "dst")
                .mapInPandas(
                    _shard_writer_factory(
                        local_blocks_dir, nblocks, np_dtype, ext
                    ),
                    schema="bucket int, path string",
                )
                .collect()
            )
        finally:
            spark.conf.set(conf_key, old_batch)
        for r in rows:
            by_bucket.setdefault(int(r["bucket"]), []).append(r["path"])
    else:
        # PORTABLE PATH (hdfs://, s3://, …): JVM-only dynamic-partitioned
        # Parquet write straight off the canonical frame's partitions;
        # gather tasks decode their bucket's files with pyarrow's
        # URI-aware reader on first touch.
        (
            edges.select(
                F.col("src").cast(id_type),
                F.col("dst").cast(id_type),
                F.pmod(F.col("dst"), F.lit(nblocks)).cast("int").alias("bucket"),
            )
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(blocks_dir)
        )
        # file listing through Spark, not os.listdir — works on any Hadoop FS
        try:
            block_files = spark.read.parquet(blocks_dir).inputFiles()
        except Exception:  # zero-row write leaves no files to infer from
            block_files = []
        for f in block_files:
            m = re.search(r"bucket=(\d+)", f)
            if m:
                by_bucket.setdefault(int(m.group(1)), []).append(f)
    # one item per bucket → exactly one gather task owns each dst range.
    # TASK granularity is decoupled from the BUCKET layout: a gather task
    # carries fixed cost (Python worker round-trip), so slices =
    # min(buckets, slots) and each task folds several buckets
    # sequentially — the layout stays pinned across parallelism levels
    # while the per-iteration task count tracks the session's width,
    # exactly as partition tuning would on a real cluster. A plain
    # parallelized RDD, not a DataFrame: the ~nblocks-row control frame
    # paid Catalyst re-planning + Arrow stream setup per ITERATION
    # (~0.6 s/job measured, core-count-independent — see
    # _gather_factory's docstring); the RDD job ships the same rows in
    # the task binary with none of that.
    block_rows = [
        (b, ";".join(sorted(ps))) for b, ps in sorted(by_bucket.items())
    ]
    blocks_rdd = sc.parallelize(
        block_rows, max(1, min(len(block_rows), sc.defaultParallelism))
    )
    return blocks_rdd, nblocks, ext


class CsrKernel:
    """The CSR kernel's state and power step, driven by ``pagerank()``.

    Construction is the one-time setup: it persists ``edges`` (the
    canonicalized, dedup'd and sink-rewritten id-typed frame), writes the
    edge blocks, and builds the driver vectors (teleport ``v``, inverse
    out-degree, sinks, ranks ``p`` from the teleport vector or the resume
    ``state``). Every resource it takes is registered on ``release``.
    """

    #: one power step per turn: a turn's cost is all gather, nothing to
    #: amortize by chaining
    chain_max = 1

    def __init__(self, g: Graph, edges: DataFrame, sink: str, damping: float,
                 teleport: dict[int, float] | None,
                 state: DataFrame | None, release: ExitStack):
        spark = g.spark
        n = g.num_vertices
        t_setup = time.monotonic()

        # persisted: the block write and the out-degree collect would each
        # re-run the full-width distinct over the raw edge table
        edges = edges.persist(STORAGE)
        release.callback(edges.unpersist)
        n_edges = edges.count()  # materialize the canonical frame ONCE
        t_dedup = time.monotonic()

        self.blocks_rdd, self.nblocks, self.ext = _write_blocks(
            spark, edges, n, release
        )
        t_blocks = time.monotonic()

        # driver-held vertex state ------------------------------------------
        if teleport is None:
            v = np.full(n, 1.0 / n)
        else:
            v = np.zeros(n)
            v[list(teleport)] = list(teleport.values())
        # out-degree vector (one small collect): inv_out folds the division
        # into the broadcast, and zero-outdegree rows ARE the sinks — no
        # separate anti-join pass
        odf = edges.groupBy("src").agg(F.count("*").alias("outdeg")).toPandas()
        outdeg_vec = np.zeros(n)
        outdeg_vec[odf["src"].to_numpy()] = odf["outdeg"].to_numpy()
        self.inv_out = np.divide(
            1.0, outdeg_vec, out=np.zeros(n), where=outdeg_vec > 0
        )
        self.sink_ids = np.nonzero(outdeg_vec == 0)[0].astype("int64")
        # the loop reads only the blocks and the driver vectors
        edges.unpersist()
        if state is not None:
            init = state.select("id", "rank").toPandas()
            self.p = np.zeros(n)
            self.p[init["id"].to_numpy()] = init["rank"].to_numpy()
        else:
            self.p = v.copy()

        self.spark, self.n = spark, n
        self.sink, self.damping, self.v = sink, damping, v
        self.token = _uuid.uuid4().hex
        # per-phase wall time: where an N→4N scaling run spends its seconds
        # (setup = canonicalize+block write, bcast/gather = per-iteration
        # distributed work, update = serial driver numpy)
        self.timings = {
            "kernel": "csr",
            "nblocks": self.nblocks,
            "edge_rows": n_edges,
            "setup_s": time.monotonic() - t_setup,
            "setup_dedup_s": t_dedup - t_setup,
            "setup_blocks_s": t_blocks - t_dedup,
            "setup_state_s": time.monotonic() - t_blocks,
            "bcast_s": 0.0,
            "gather_s": 0.0,
            "update_s": 0.0,
        }

    def advance(self, steps: int, need_delta: bool) -> tuple[float, float]:
        """One power step (``steps`` is 1, see ``chain_max``); returns the
        step's L1 delta — free on the driver, so always computed — and
        the new rank mass."""
        n, nblocks, p = self.n, self.nblocks, self.p
        t0 = time.monotonic()
        # p·inv_out on the driver (n multiplies) — elementwise identical
        # to the join kernel's rank·inv, keeping csr/join parity exact
        rank_bc = self.spark.sparkContext.broadcast(p * self.inv_out)
        t_b = time.monotonic()
        self.timings["bcast_s"] += t_b - t0
        partials = self.blocks_rdd.mapPartitions(
            _gather_factory(n, nblocks, self.ext, rank_bc, self.token)
        ).collect()
        t_g = time.monotonic()
        self.timings["gather_s"] += t_g - t_b
        # bucket b owns global ids {b, b+nblocks, ...}: local index i maps
        # to global b + i·nblocks, so each buffer lands as one strided
        # numpy assignment — no row decode, no join
        gathered = np.zeros(n)
        for b, raw in partials:
            buf = np.frombuffer(raw, dtype=np.float64)
            take = len(gathered[b::nblocks])
            gathered[b::nblocks] = buf[:take]
        rank_bc.destroy()

        sink_ids = self.sink_ids
        s_mass = float(p[sink_ids].sum()) if len(sink_ids) else 0.0
        if self.sink == "uniform":
            gathered += s_mass * self.v
        elif self.sink == "all" and n > 1:
            term = np.full(n, s_mass)
            term[sink_ids] -= p[sink_ids]
            gathered += term / (n - 1)
        self.p = self.damping * gathered + (1.0 - self.damping) * self.v
        l1 = float(np.abs(self.p - p).sum())
        mass = float(self.p.sum())
        self.timings["update_s"] += time.monotonic() - t_g
        return l1, mass

    def ranks(self) -> DataFrame:
        """The current ranks as an ``(id, rank)`` frame."""
        return self.spark.createDataFrame(
            pd.DataFrame({"id": np.arange(self.n, dtype="int64"), "rank": self.p})
        )


def _hadoop_rm(spark, path: str) -> None:
    """Recursive delete through the Hadoop FS API (scheme-agnostic)."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
        fs.delete(jpath, True)
    except Exception:
        shutil.rmtree(path, ignore_errors=True)
