"""Tests for the segment-parallel blob chunking pipeline (SURVEY.md §2.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_algorithms_spark.chunkers import ae_cuts
from cdc_algorithms_spark.chunkers.params import AeParams
from cdc_algorithms_spark.operators.distributed import (
    parallel_chunk_blob,
    segment_blob_df,
)
from cdc_algorithms_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def blob(spark):
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    texts = [r["text"] for r in docs.orderBy("doc_id").collect()]
    return "".join(texts).encode()


@pytest.fixture(scope="module")
def blob_df(spark, blob):
    return spark.createDataFrame(
        [(0, bytearray(blob))], "src_id long, content binary"
    )


def test_segmenting_covers_blob(spark, blob, blob_df):
    segs = segment_blob_df(blob_df, segment_len=16384, overlap=64).collect()
    segs.sort(key=lambda r: r["seg_idx"])
    assert segs[0]["left"] == 0
    assert segs[-1]["right"] == len(blob)
    for a, b in zip(segs, segs[1:]):
        assert a["right"] == b["left"]
    for s in segs:
        expected = blob[s["scan_start"] : s["right"]]
        assert bytes(s["payload"]) == expected


def _spans(chunks):
    rows = sorted(chunks.collect(), key=lambda r: r["chunk_idx"])
    return [(r["offset"], r["length"], r["hash"]) for r in rows]


def test_parallel_ae_concat_and_contiguity(spark, blob, blob_df):
    chunks = parallel_chunk_blob(blob_df, "ae", 320, segment_len=16384)
    rows = _spans(chunks)
    assert sum(ln for _, ln, _ in rows) == len(blob)
    pos = 0
    for off, ln, _ in rows:
        assert off == pos
        pos += ln


def test_parallel_matches_single_segment_hashes(spark, blob, blob_df):
    """Chunks with identical spans must hash identically whether they were
    reassembled across seams (multi-segment) or not (single segment) —
    exercises the phase-C range-join reassembly."""
    multi = dict(
        ((o, ln), h) for o, ln, h in _spans(
            parallel_chunk_blob(blob_df, "ae", 320, segment_len=8192)
        )
    )
    single = dict(
        ((o, ln), h) for o, ln, h in _spans(
            parallel_chunk_blob(blob_df, "ae", 320, segment_len=len(blob) + 1)
        )
    )
    common = set(multi) & set(single)
    assert len(common) >= 0.8 * len(single), "seam drift too large"
    for span in common:
        assert multi[span] == single[span], f"hash mismatch at {span}"


def test_parallel_close_to_sequential(spark, blob, blob_df):
    """Segment-parallel cuts agree with the sequential algorithm away from
    seams (the reference's seam rule is approximate, SURVEY.md §7)."""
    p = AeParams.make(320)
    seq_cuts = set(ae_cuts(blob, p))
    par_ends = {
        o + ln - 1 for o, ln, _ in _spans(
            parallel_chunk_blob(blob_df, "ae", 320, segment_len=8192)
        )
    }
    agreement = len(seq_cuts & par_ends) / len(seq_cuts)
    assert agreement > 0.9, f"only {agreement:.1%} of sequential cuts reproduced"


def test_parallel_deterministic(spark, blob_df):
    a = _spans(parallel_chunk_blob(blob_df, "rabin", 256, seed=7, segment_len=8192))
    b = _spans(parallel_chunk_blob(blob_df, "rabin", 256, seed=7, segment_len=8192))
    assert a == b


def test_parallel_rabin_bounds_respected(spark, blob_df):
    chunks = parallel_chunk_blob(blob_df, "rabin", 256, seed=7, segment_len=8192)
    mx = chunks.agg(F.max("length")).collect()[0][0]
    # Interior chunks respect max_size+1, but a seam chunk can stretch
    # further: the next segment scans from right-overlap with fresh state,
    # so its first cut can land up to max_size past that warm-up start
    # (same property as the reference's get_bounds warm-start, rabin.rs:64).
    max_size, window = 256 * 4, 256 // 4 - 1
    assert mx <= 2 * (max_size + 1) + window


def test_multiple_blobs(spark, blob):
    third = len(blob) // 3
    df = spark.createDataFrame(
        [(1, bytearray(blob[:third])), (2, bytearray(blob[third:]))],
        "src_id long, content binary",
    )
    chunks = parallel_chunk_blob(df, "ae", 320, segment_len=4096)
    per_src = {
        r["src_id"]: r["total"]
        for r in chunks.groupBy("src_id").agg(F.sum("length").alias("total")).collect()
    }
    assert per_src == {1: third, 2: len(blob) - third}


def test_synthetic_blob_node_pipeline(spark):
    """The node-throughput pipeline on a 64 MiB executor-generated blob:
    bytes conserved, planted 1 MiB-block duplicates detected (block seeds
    cycle through a pool of 37, so dedup must land well below 1), chunk
    count consistent with the 16 KiB expected size."""
    from cdc_algorithms_spark.operators.dedup import dedup_stats
    from cdc_algorithms_spark.operators.distributed import chunk_segments
    from cdc_algorithms_spark.sources.synthetic import synthetic_blob_segments

    total = 64 << 20
    segs = synthetic_blob_segments(
        spark, total, segment_len=8 << 20, overlap=16384 - 256, seed=11
    )
    row = dedup_stats(chunk_segments(segs, "ae", 16384), key_col="hash").first()
    assert row["total_bytes"] == total
    # fully-unique content would give exactly 1.0; the planted repeats
    # (64 blocks over 37 seeds) must pull it measurably below
    assert 0.1 < row["dedup_coeff"] < 0.9
    assert total // (16384 * 8) < row["n_chunks"] < total // (16384 // 8)
    # determinism: same seed → same stats
    segs2 = synthetic_blob_segments(
        spark, total, segment_len=8 << 20, overlap=16384 - 256, seed=11
    )
    row2 = dedup_stats(chunk_segments(segs2, "ae", 16384), key_col="hash").first()
    assert row.asDict() == row2.asDict()


def test_slow_ramp_first_chunk_spans_many_segments(spark):
    """Adversarial long-chunk input: a ramp that raises the running max
    within every window keeps AE cut-free for ~window·255 bytes, so the
    first chunk spans multiple 4 KiB segments whose scans emit no owned
    cuts — every one ships its whole range as a piece and Phase C must
    reassemble the cross-segment chunk bit-exactly."""
    import hashlib

    from cdc_algorithms_spark.chunkers.fast import ae_cuts as _ae_cuts
    from cdc_algorithms_spark.operators.distributed import parallel_chunk_blob

    data = bytes(min(255, i // 60) for i in range(50_000))
    p = AeParams.make(320, window_size=64)
    first_cut = _ae_cuts(data, p)[0]
    assert first_cut > 3 * 4_096  # premise: chunk 0 crosses ≥3 segments

    blobs = spark.createDataFrame([(7, data)], "src_id long, content binary")
    rows = sorted(
        parallel_chunk_blob(
            blobs, "ae", 320, segment_len=4_096, window_size=64
        ).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert sum(r["length"] for r in rows) == len(data)
    head = rows[0]
    assert (head["offset"], head["length"]) == (0, first_cut + 1)
    v = int.from_bytes(
        hashlib.blake2b(data[: first_cut + 1], digest_size=8).digest(), "big"
    )
    expect = v - (1 << 64) if v >= (1 << 63) else v
    assert head["hash"] == expect
    # merge invariant: interior boundaries ≥ window apart
    ends = [r["offset"] + r["length"] - 1 for r in rows]
    assert all(b - a >= 64 for a, b in zip(ends, ends[1:-1]))


def test_ramp_blob_cuts_cross_check(spark):
    """Sawtooth input: dense deterministic cuts; distributed pipeline ==
    sequential chunker on the whole buffer, segment geometry varied."""
    from cdc_algorithms_spark.chunkers.fast import ae_cuts
    from cdc_algorithms_spark.chunkers.params import AeParams
    from cdc_algorithms_spark.operators.distributed import parallel_chunk_blob

    data = bytes((i % 251) for i in range(40_000))
    p = AeParams.make(320, window_size=64)
    seq_cuts = ae_cuts(data, p)
    blobs = spark.createDataFrame([(1, data)], "src_id long, content binary")
    for seg_len in (4_096, 10_000, 64_000):
        rows = parallel_chunk_blob(
            blobs, "ae", 320, segment_len=seg_len, window_size=64
        ).collect()
        assert sum(r["length"] for r in rows) == len(data)
        dist_ends = sorted(r["offset"] + r["length"] - 1 for r in rows)
        # seam merge may drop cuts closer than window to a seam-kept cut,
        # but every distributed boundary must be a sequential cut, and
        # they must agree except near seams (<= 1 divergence per seam)
        assert set(dist_ends) <= set(seq_cuts)
        n_seams = (len(data) - 1) // seg_len
        assert len(set(seq_cuts) - set(dist_ends)) <= n_seams


def _oracle_mismatches(rows) -> list:
    """(src_id, offset, chunk_idx, expected) for every row whose
    chunk_idx differs from its row_number by offset within its blob."""
    by_src: dict[int, list] = {}
    for r in rows:
        by_src.setdefault(r["src_id"], []).append(r)
    bad = []
    for sid, rs in by_src.items():
        rs.sort(key=lambda r: r["offset"])
        bad += [
            (sid, r["offset"], r["chunk_idx"], i)
            for i, r in enumerate(rs)
            if r["chunk_idx"] != i
        ]
    return bad


def test_chunk_idx_equals_row_number_oracle(spark, blob):
    """chunk_idx (Phase B's seam walk + per-segment bases) must equal the
    row_number by offset within each blob, for every chunker, several
    blobs per frame, a blob of one segment next to one of many, and the
    slow ramp whose segments own fewer than 2 cuts (no done rows, no
    base rows for them)."""
    import random

    rnd = random.Random(5)
    ramp = bytes(min(255, i // 60) for i in range(50_000))
    third = len(blob) // 3
    cases = {
        "ae": ("ae", 320, None, 16384, [(0, blob)]),
        "rabin": ("rabin", 256, None, 8192, [(1, blob[:third]), (2, blob[third:])]),
        "fastcdc": ("fastcdc", 256, None, 4096, [(3, rnd.randbytes(120_000))]),
        "slow-ramp": ("ae", 320, 64, 4096, [(7, ramp)]),
        "big-and-tiny": (
            "ae", 4096, None, 65536,
            [(1, rnd.randbytes(3_000_000)), (2, rnd.randbytes(100))],
        ),
    }
    for name, (algo, expected, window, seg_len, blobs) in cases.items():
        df = spark.createDataFrame(
            [(sid, bytearray(b)) for sid, b in blobs], "src_id long, content binary"
        )
        rows = parallel_chunk_blob(
            df, algo, expected, window_size=window, segment_len=seg_len
        ).collect()
        assert {r["src_id"] for r in rows} == {sid for sid, _ in blobs}, name
        assert not _oracle_mismatches(rows), (name, _oracle_mismatches(rows)[:5])


def _assert_no_ordinal_machinery(df):
    """No window, and no join but the Phase-C piece-reassembly one: the
    done-row ordinal LEFT join must be gone from the optimized plan."""
    from cdc_algorithms_spark import plans as P

    assert not P.window_partition_columns(df)
    assert P.broadcast_join_count(df) + P.sort_merge_join_count(df) <= 1
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftOuter" not in optimized, optimized


def test_stats_route_plan_has_no_ordinal_machinery(spark):
    """Dedup stats never read chunk_idx, so neither the registered query
    nor the public default route (api.chunk_files → api.dedup_stats)
    may carry any ordinal join or window — only the Phase-C
    piece-reassembly join and the dedup aggregates."""
    from cdc_algorithms_spark import api
    from cdc_algorithms_spark import plans as P
    from cdc_algorithms_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["parallel_ae_dedup_stats"](spark, "/root/testdata/sf0.001")
    _assert_no_ordinal_machinery(df)
    assert P.exchange_count(df) <= 8

    public = api.dedup_stats(
        api.chunk_files(
            spark, "/root/testdata/sf0.001/*.parquet",
            expected_size=4096, segment_len=262144,
        ),
        key_col="hash",
    )
    _assert_no_ordinal_machinery(public)


def _subtree(plan: str, marker: str) -> list[str]:
    """The lines of the first plan node containing ``marker`` and of
    every node below it (deeper indentation), from a 'simple' explain."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if marker in line:
            depth = len(line) - len(line.lstrip(" :+-"))
            out = [line]
            for below in lines[i + 1 :]:
                if len(below) - len(below.lstrip(" :+-")) <= depth:
                    break
                out.append(below)
            return out
    raise AssertionError(f"{marker} not in plan:\n{plan}")


def test_chunk_files_scan_spreads_over_cores(spark, tmp_path, monkeypatch):
    """Phase A of api.chunk_files runs on min(n_segments,
    defaultParallelism) tasks with an even share of segments each, and
    no shuffle below the scan's MapInPandas (a repartition there hashes
    the few metadata rows unevenly, or lets AQE merge them into ONE
    task). Partition ids come from a TaskContext probe wrapped around
    the cut kernel, which runs once per segment inside the scan task."""
    import os
    import uuid

    from cdc_algorithms_spark import api
    from cdc_algorithms_spark import plans as P
    from cdc_algorithms_spark.operators import distributed as D

    seg_len, n_files, segs_per_file = 65536, 4, 5
    data = tmp_path / "data"
    data.mkdir()
    for i in range(n_files):
        (data / f"f{i}.bin").write_bytes(os.urandom((segs_per_file - 1) * seg_len + 999))
    marks = tmp_path / "marks"
    marks.mkdir()
    marks_dir = str(marks)
    kernel = D._BOUND_FNS["ae"]

    def probe(payload, params):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        open(os.path.join(marks_dir, f"{pid}-{uuid.uuid4().hex}"), "w").close()
        return kernel(payload, params)

    monkeypatch.setitem(D._BOUND_FNS, "ae", probe)
    chunks = api.chunk_files(
        spark, str(data / "*.bin"), expected_size=4096, segment_len=seg_len
    )
    n_segments = n_files * segs_per_file
    pids = [int(name.split("-")[0]) for name in os.listdir(marks_dir)]
    assert len(pids) == n_segments  # every segment scanned exactly once
    parallelism = spark.sparkContext.defaultParallelism
    assert sorted(set(pids)) == list(range(min(n_segments, parallelism)))
    per_task = [pids.count(p) for p in set(pids)]
    assert max(per_task) - min(per_task) <= 1, per_task

    scan = _subtree(P.physical_plan(chunks, "simple"), "MapInPandas")
    assert not [line for line in scan if "Exchange" in line], "\n".join(scan)
