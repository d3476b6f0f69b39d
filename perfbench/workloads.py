"""Seeded inputs, reference results and the timed operation of each workload.

Every workload is a class with the same three steps:

* ``generate(rng, workdir)`` writes the inputs from the seeded generator and
  computes the reference result in this process, without Spark;
* ``run(spark, tracer)`` is ONE timed operation, calling the engine only
  through its public functions and collecting the result;
* ``check(result)`` compares that result with the reference and returns a
  list of mismatch descriptions (empty when correct).

Sizes are fixed per workload; only the content depends on the seed, so
throughput is comparable between seeds.
"""

from __future__ import annotations

import glob
import os

import numpy as np

MIB = 1 << 20


def _words(rng: np.random.Generator, n_vocab: int) -> list[str]:
    """``n_vocab`` distinct random lowercase words of 3 to 9 letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    out = set()
    while len(out) < n_vocab:
        n = int(rng.integers(3, 10))
        out.add(letters[rng.integers(0, 26, size=n)].tobytes().decode())
    return sorted(out)


def _write_docs(path: str, ids, texts, n_files: int) -> None:
    """Write ``(doc_id, text)`` as ``n_files`` parquet files so the scan
    splits across cores."""
    import pandas as pd

    os.makedirs(path, exist_ok=True)
    pdf = pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64), "text": texts})
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        pdf.iloc[part].to_parquet(os.path.join(path, f"part-{i:03d}.parquet"), index=False)


class _Corpus:
    """Documents assembled from a Zipf-shared paragraph pool with small
    word edits: chunk-level duplication like a crawl of templated pages."""

    n_paragraphs = 1500
    doc_bytes = 4096

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = _words(rng, 4000)
        self.pool = [self._paragraph() for _ in range(self.n_paragraphs)]
        ranks = np.arange(1, self.n_paragraphs + 1, dtype=np.float64)
        w = 1.0 / ranks**1.1
        self.p = w / w.sum()

    def _paragraph(self) -> str:
        n = int(self.rng.integers(60, 140))
        return " ".join(self.vocab[i] for i in self.rng.integers(0, len(self.vocab), size=n))

    def edit(self, text: str, frac: float) -> str:
        words = text.split(" ")
        k = max(1, int(round(frac * len(words))))
        for i in self.rng.integers(0, len(words), size=k):
            words[i] = self.vocab[int(self.rng.integers(0, len(self.vocab)))]
        return " ".join(words)

    def doc(self) -> str:
        parts: list[str] = []
        size = 0
        while size < self.doc_bytes:
            para = self.pool[int(self.rng.choice(len(self.pool), p=self.p))]
            if self.rng.random() < 0.3:
                para = self.edit(para, 0.02)
            parts.append(para)
            size += len(para) + 1
        return "\n".join(parts)


class FilesAe16k:
    """Binary files of 1 MiB pool blocks spliced between random-length
    gaps (duplicates at shifted offsets), chunked by ``api.chunk_files``
    with AE at 16 KiB and deduplicated on the chunk hash."""

    name = "files_ae16k"
    # The first runs of a session pay for JIT compilation; timing starts once
    # a run is about as fast as the ones after it.
    warmup_runs = 5
    stages = 0  # no micro-batches: an operation is one run
    total_mib = 256  # large enough that chunking, not only per-job overhead, shows in a run
    n_files = 4
    pool_blocks = 16

    def generate(self, rng: np.random.Generator, workdir: str) -> None:
        self.dir = os.path.join(workdir, "files")
        os.makedirs(self.dir, exist_ok=True)
        pool = [rng.bytes(MIB) for _ in range(self.pool_blocks)]
        per_file = self.total_mib * MIB // self.n_files
        for i in range(self.n_files):
            parts: list[bytes] = []
            size = 0
            while size < per_file:
                gap = rng.bytes(int(rng.integers(1, 256 << 10)))
                blk = pool[int(rng.integers(0, self.pool_blocks))]
                parts += [gap, blk]
                size += len(gap) + len(blk)
            data = b"".join(parts)[:per_file]
            with open(os.path.join(self.dir, f"blob-{i:02d}.bin"), "wb") as f:
                f.write(data)
            if i == 0:
                self.sample = data
        self.input_bytes = per_file * self.n_files
        # Segment-parallel AE (the reference's parallel_chunking) cuts
        # differently from one sequential scan after each segment seam, so
        # the reference is byte conservation plus the first run's stats,
        # which every later run of the seed must repeat exactly.
        self.reference = {"total_bytes": self.input_bytes}

    def run(self, spark, tracer) -> dict:
        from cdc_algorithms_spark import api

        with tracer.span("distributed.scan"):
            chunks = api.chunk_files(
                spark, os.path.join(self.dir, "*.bin"), algo="ae", expected_size=16384
            )
        chunks = tracer.force("distributed.finish", chunks, count_as="distributed.chunks")
        with tracer.span("dedup.stats"):
            row = api.dedup_stats(chunks, key_col="hash").collect()
        return row[0].asDict() if len(row) == 1 else {"rows": len(row)}

    def check(self, result: dict) -> list[str]:
        errors = _compare(result, self.reference)
        if not errors and len(self.reference) == 1:
            self.reference = dict(result)  # later runs must match the first exactly
        return errors

    def kernel_bytes(self) -> dict:
        return {"ae16k": self.input_bytes}


class SnapshotSync:
    """An old snapshot seeds the chunk store; the new snapshot (edits,
    additions, deletions) streams through ``run_incremental_sync`` in
    ``stages`` micro-batches, each stage filtered by document before
    chunking so no stage re-chunks the whole snapshot."""

    name = "snapshot_sync"
    warmup_runs = 2
    n_docs = 300
    stages = 3

    def generate(self, rng: np.random.Generator, workdir: str) -> None:
        from cdc_algorithms_spark.chunkers import fastcdc_cuts, make_params

        self.workdir = workdir
        self.old_dir = os.path.join(workdir, "old")
        self.new_dir = os.path.join(workdir, "new")
        corpus = _Corpus(rng)
        old = [corpus.doc() for _ in range(self.n_docs)]
        new_ids: list[int] = []
        new: list[str] = []
        for i, text in enumerate(old):
            r = rng.random()
            if r < 0.05:
                continue  # deleted
            if r < 0.25:
                paras = text.split("\n")
                j = int(rng.integers(0, len(paras)))
                paras[j] = corpus.edit(paras[j], 0.05)
                text = "\n".join(paras)
            new_ids.append(i)
            new.append(text)
        for k in range(self.n_docs // 20):  # added
            new_ids.append(self.n_docs + k)
            new.append(corpus.doc())
        stage = rng.integers(0, self.stages, size=len(new)).astype(np.int32)
        _write_docs(self.old_dir, range(self.n_docs), old, n_files=4)
        # one directory per stage, so a stage's read prunes to its own files
        for k in range(self.stages):
            sel = np.flatnonzero(stage == k)
            _write_docs(
                os.path.join(self.new_dir, f"stage={k}"),
                [new_ids[i] for i in sel], [new[i] for i in sel], n_files=1,
            )
        self.input_bytes = sum(len(t.encode()) for t in new)
        self.sample = "\n".join(new).encode()
        self.old_bytes = sum(len(t.encode()) for t in old)

        params = make_params("fastcdc", 256)
        old_set: set[bytes] = set()
        for text in old:
            data = text.encode()
            prev = -1
            for cut in fastcdc_cuts(data, params):
                old_set.add(data[prev + 1 : cut + 1])
                prev = cut
        total = reused = transfer = 0
        shipped: set[bytes] = set()
        for text in new:
            data = text.encode()
            prev = -1
            for cut in fastcdc_cuts(data, params):
                piece = data[prev + 1 : cut + 1]
                total += len(piece)
                if piece in old_set:
                    reused += len(piece)
                elif piece not in shipped:
                    shipped.add(piece)
                    transfer += len(piece)
                prev = cut
        self.reference = {
            "total_bytes": total,
            "reused_old_bytes": reused,
            "transfer_bytes": transfer,
            "dedup_new_bytes": total - reused - transfer,
        }

    def run(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from cdc_algorithms_spark import api
        from cdc_algorithms_spark.streaming.sync import run_incremental_sync

        old = api.chunk(spark.read.parquet(self.old_dir), algo="fastcdc", expected_size=256)
        new = spark.read.parquet(self.new_dir)
        stages = [
            api.chunk(new.where(F.col("stage") == k), algo="fastcdc", expected_size=256)
            for k in range(self.stages)
        ]
        with tracer.span("chunking.chunk"):
            old = tracer.force(None, old, count_as="chunking.chunks")
            stages = [tracer.force(None, s, count_as="chunking.chunks") for s in stages]
        self.sync_dir = os.path.join(self.workdir, "sync")
        with tracer.span("sync.run"):
            row = run_incremental_sync(spark, old, stages, self.sync_dir).collect()
        return row[0].asDict() if len(row) == 1 else {"rows": len(row)}

    def check(self, result: dict) -> list[str]:
        return _compare(result, self.reference)

    def kernel_bytes(self) -> dict:
        return {"fastcdc256": self.input_bytes + self.old_bytes}

    def store_size(self) -> tuple[int, int]:
        """(bytes, epoch directories) of the chunk store the last run left."""
        store = os.path.join(self.sync_dir, "store")
        dirs = [d for d in os.listdir(store) if d == "seed" or d.startswith("batch_")]
        size = sum(os.path.getsize(f) for f in glob.glob(os.path.join(store, "*", "*")))
        return size, len(dirs)


def _compare(result: dict, reference: dict) -> list[str]:
    return [
        f"{k}: got {result.get(k)!r}, expected {v!r}"
        for k, v in reference.items()
        if result.get(k) != v
    ]


WORKLOADS = {w.name: w for w in (FilesAe16k, SnapshotSync)}
