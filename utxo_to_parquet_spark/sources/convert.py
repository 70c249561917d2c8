"""End-to-end converter: ``dumptxoutset`` snapshot → query-optimized Parquet.

The Spark-native equivalent of the reference's entire main() loop
(/root/reference/src/main.rs:167-278), as one declarative pipeline:

    read_utxo_dump(...)            # splittable parallel scan (S1-S7)
      .sortWithinPartitions(...)   # per-batch sort on script (S10)
      .write.parquet(...)          # ZSTD + small row groups (S12)

Layout decisions mirror the reference's write-time physical optimizations
(SURVEY.md §4): clustering on ``script`` so equality predicates prune,
ZSTD compression, 64 KiB pages with page-level statistics as the skip
granularity. The skip unit differs deliberately from the reference's
64Ki-ROW row groups (main.rs:211): parquet-java's column indexes make
PAGES the pruning granularity, so large (16 MiB) row groups write ~2x
faster with measurably identical point-lookup latency — same pruning
power, cheaper write. The reference's per-column DELTA_BYTE_ARRAY
encoding and SortingColumn footer metadata are not exposed by Spark's
writer — a documented, results-neutral fidelity gap (main.rs:212,214).
"""

from __future__ import annotations

import bisect
import itertools

from .utxo_dump import PREFIX_LEN, decode_frames, frame_dump_files, sample_stride


def _hash_preimages(spark, n: int) -> list[int]:
    """For each shuffle-partition index i in [0, n), a small non-negative
    int v with pmod(murmur3(v), n) == i — so ``repartition(n, lit-col)``
    routes range-bucket i exactly to partition i. Computed with Spark's
    own ``hash()`` (one tiny job over a candidate range, no decode), so
    the mapping can never drift from the engine's partitioner."""
    from pyspark.sql import functions as F

    need = 4 * n + 64
    cand = spark.range(need).select(
        F.col("id").cast("int").alias("v"), F.hash(F.col("id").cast("int")).alias("h")
    )
    out: dict[int, int] = {}
    for r in cand.collect():
        res = r.h % n  # python % matches Spark's pmod for positive n
        if res not in out:
            out[res] = r.v
    missing = [i for i in range(n) if i not in out]
    if missing:  # astronomically unlikely with 4n+64 candidates
        raise RuntimeError(f"no hash preimage found for partitions {missing}")
    return [out[i] for i in range(n)]


# target rows per range bucket: sized so one bucket's sortWithinPartitions
# state (~100 B/row internal format) stays well inside a task's share of
# execution memory and NEVER SPILLS. Round-9 measurement at 177M rows:
# 32 fixed buckets put 5.5M rows (~550 MB) in each sort task — past the
# per-task execution-memory share, so every task spilled and the sampled
# exchange cost 3.8x the no-shuffle baseline; 2M-row buckets sort fully
# in memory. This is also the 100-TB-correct shape: bucket count GROWS
# WITH DATA (a fixed partition count is the classic at-scale bug), and a
# point lookup still touches exactly one of them.
BUCKET_ROWS = 2_000_000

# parquet writer settings. Pages, not row groups, are the pruning unit
# (module docstring), so large row groups cost lookups nothing. ZSTD
# level 1 (vs the reference's default 3, main.rs:210) writes ~35% faster
# at identical output size on this data: scripts and txids are
# high-entropy hashes that no zstd level compresses further.
ROW_GROUP_BYTES = 16 * 1024 * 1024
ZSTD_LEVEL = 1


def _range_bounds(indexed, n_parts: int) -> list[bytes]:
    """Exact weighted ``n_parts``-quantiles of the framing pass's script
    prefix samples, deduplicated (skewed corpora can repeat boundaries,
    so the bucket count adapts). Each file's sample is thinned to the
    stride of the whole input and weighted by the rows each kept prefix
    stands for, so shards count in proportion to their rows and the
    driver sorts about SAMPLE_ROWS prefixes at any input size."""
    stride = sample_stride(sum(ix.header.num_utxos for _, ix in indexed))
    weighted = []
    for _, ix in indexed:
        keep = max(1, round(stride / ix.sample_stride))
        weight = ix.sample_stride * keep
        step = PREFIX_LEN * keep
        weighted += [(ix.sample[i : i + PREFIX_LEN], weight) for i in range(0, len(ix.sample), step)]
    if not weighted:
        return []
    weighted.sort()
    cum = list(itertools.accumulate(w for _, w in weighted))
    picks = {bisect.bisect_left(cum, cum[-1] * i / n_parts) for i in range(1, n_parts)}
    return sorted({weighted[j][0] for j in picks})


def _sampled_range_exchange(spark, df, indexed, num_utxos: int):
    """Range-cluster ``df`` on ``script`` without Spark's range exchange,
    whose boundary sampling re-executes the child plan: boundaries from
    the framing pass's prefix sample, routing via one hash exchange on
    per-bucket preimage literals."""
    from pyspark.sql import functions as F

    n_parts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        -(-num_utxos // BUCKET_ROWS),
    )
    bounds = _range_bounds(indexed, n_parts)
    n_buckets = len(bounds) + 1
    magic = _hash_preimages(spark, n_buckets)
    # Route on raw binary comparisons: routing only needs a split that
    # is monotone in the sort key (any consistent cut gives disjoint
    # per-file script ranges — footer min/max always reflect the actual
    # values), so each row pays one JVM lambda over n_buckets
    # byte-compares against the 7-byte boundary literals.
    barr = F.array(*[F.lit(b) for b in bounds])
    bucket = F.size(F.filter(barr, lambda b: F.col("script") >= b))
    route = F.element_at(F.array(*[F.lit(m) for m in magic]), bucket + 1)
    return (
        df.withColumn("__route", route)
        .repartition(n_buckets, "__route")
        .drop("__route")
        .sortWithinPartitions("script")
    )


def convert_utxo_dump_to_parquet(
    spark,
    input_path: str,
    output_path: str,
    *,
    chunk_rows: int = 250_000,
    global_sort: bool = False,
    use_cache: bool = True,
    partition_by_height_epoch: int | None = None,
):
    """Convert a UTXO snapshot to Parquet; returns the decoded row count.

    ``global_sort=False`` reproduces the reference exactly: each partition
    (= batch) is independently sorted by ``script``, so the output is a
    sequence of sorted runs (main.rs:255-258 semantics).

    With ``global_sort`` set (any truthy value), the output is
    range-clustered on ``script``: files cover disjoint script ranges and
    each is sorted, so an equality predicate touches one file's pages at
    any output width. The range boundaries are exact quantiles of the script-prefix sample
    the framing pass already takes (a fixed-size systematic sample, so
    the cost stays bounded at any input size and no row is decoded for
    it). Rows reach their range bucket through one ordinary hash
    exchange on per-bucket hash preimages, then sort within partitions
    (:func:`_sampled_range_exchange`). Each record is decoded once, on
    the exchange's map side. Spark's own range exchange would sample its
    boundaries by executing the child plan, that is, by decoding the
    whole snapshot a second time.

    ``partition_by_height_epoch=N`` adds hive-style output partitioning on
    ``height_epoch = height // N``: height-range queries then prune whole
    directories at plan time (PartitionFilters) before any page statistics
    are consulted — the coarse pruning layer the flat reference layout
    doesn't have. Script clustering still applies within each partition.
    With ``global_sort`` the range key is (height_epoch, script); the
    framing sample carries no height, so this composite key alone keeps
    ``repartitionByRange``.

    The writer uses ZSTD at level ``ZSTD_LEVEL`` and ``ROW_GROUP_BYTES``
    row groups of 64 KiB pages.
    """
    indexed = frame_dump_files(input_path, chunk_rows=chunk_rows, use_cache=use_cache)
    header, df = decode_frames(spark, indexed)
    from pyspark.sql import functions as F

    partition_cols: list[str] = []
    if partition_by_height_epoch:
        df = df.withColumn(
            "height_epoch", (F.col("height") / partition_by_height_epoch).cast("long")
        )
        partition_cols = ["height_epoch"]
    # sort keys include the partition columns: the file writer demands
    # task-local ordering on them and would otherwise insert its own
    # sort-by-partition-cols, destroying the script clustering
    sort_cols = partition_cols + ["script"]
    if global_sort and partition_cols:
        df = df.repartitionByRange(*sort_cols).sortWithinPartitions(*sort_cols)
    elif global_sort:
        df = _sampled_range_exchange(spark, df, indexed, header.num_utxos)
    else:
        df = df.sortWithinPartitions(*sort_cols)
    writer = (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", str(ZSTD_LEVEL))
        .option("parquet.block.size", str(ROW_GROUP_BYTES))
        .option("parquet.page.size", str(64 * 1024))
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(output_path)
    # the framing pass walked every record and errors on malformed input,
    # so the decoded row count is num_utxos — no output re-read needed
    return header.num_utxos
