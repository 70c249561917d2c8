"""Measure the ``global_sort`` trade at converter depth: the range
exchange's write cost vs its point-lookup pruning benefit.

SCALING.md's "Output layout" section calls ``global_sort=True`` the right
100-TB default; this tool replaces that assertion with numbers. At 20M+
rows it converts the same sharded dump both ways and records:

- convert wall time (best-of-3, host-noise policy) per mode;
- point-lookup latency on a planted single-occurrence script
  (best-of-5 warm) per mode;
- the pruning mechanism itself: how many output FILES overlap the
  target script in their footer min/max — per-partition sort leaves
  every file spanning the full script range (every lookup touches a
  page of every file), a global range partition confines the target to
  one file.

The file-overlap count is the scale-invariant number: lookup wall time
at 20M rows is dominated by fixed task-launch cost, but files-touched
grows with cluster output width under per-partition sort and stays O(1)
under global sort.

Usage: python tools/bench_global_sort.py [n_rows] [out_json] [shards] [reps] [modes]
Writes one JSON line (default BENCH_gsort.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
OUT = sys.argv[2] if len(sys.argv) > 2 else "BENCH_gsort.json"
SHARDS = int(sys.argv[3]) if len(sys.argv) > 3 else 8
# convert reps per mode (best-of): 3 for the standard 20M artifact;
# mainnet-depth runs pass 2 to keep the 9-convert sweep tractable
REPS = int(sys.argv[4]) if len(sys.argv) > 4 else 3
# optional mode filter (comma-separated labels: per_partition, global)
MODES = sys.argv[5].split(",") if len(sys.argv) > 5 else None
BLOCK = 1_000_000


def files_overlapping(path: str, target: bytes) -> tuple[int, int]:
    """(files whose footer script min/max straddle target, total files).

    Footer stats are what a scan's file-level pruning consults before
    any page index; a file that straddles the target costs at least one
    page read per lookup."""
    import pyarrow.parquet as pq

    total = hit = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            total += 1
            md = pq.ParquetFile(os.path.join(root, name)).metadata
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                col = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == "script"
                )
                st = col.statistics
                if st is None or not st.has_min_max:
                    # no stats at all => must be read; count as a hit
                    fmin, fmax = b"", b"\xff" * 40
                    break
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            if fmin is not None and fmin <= target <= fmax:
                hit += 1
    return hit, total


def main():
    import shutil
    import tempfile
    from multiprocessing import Pool

    from pyspark.sql import functions as F

    # Shuffle/spill to tmpfs (round 9): the gsort premium at mainnet
    # depth was dominated by shuffle+sort spill hitting this host's
    # stalling virtual disk, not by the exchange itself — the same
    # host-noise class bench.py already documents for its /dev/shm
    # output. A real cluster's shuffle lands on node-local NVMe; tmpfs
    # is the closest local model. Opt-out by pre-setting the var.
    if os.path.isdir("/dev/shm"):
        os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark_gsort_local")

    from tools.bench_depth import _write_shard
    from utxo_to_parquet_spark.session import get_spark
    from utxo_to_parquet_spark.sources import (
        convert_utxo_dump_to_parquet,
        write_utxo_dump,
    )
    from utxo_to_parquet_spark.sources.synthetic import (
        EATER_SCRIPT,
        synthetic_utxo_rows,
    )

    spark = get_spark("bench_global_sort")
    tmp = tempfile.mkdtemp(prefix="bench_gsort_")

    t0 = time.time()
    n_blocks = N_ROWS // BLOCK
    dump = os.path.join(tmp, "shards")
    os.makedirs(dump)
    per = (n_blocks + SHARDS - 1) // SHARDS
    jobs = [
        (
            os.path.join(dump, f"shard{s:03d}.dat"),
            list(range(s * per, min((s + 1) * per, n_blocks))),
        )
        for s in range(SHARDS)
        if s * per < n_blocks
    ]
    with Pool(len(jobs)) as pool:
        n = sum(pool.map(_write_shard, jobs))
    print(f"generated {n} rows in {time.time() - t0:.0f}s", flush=True)

    # session warm-up on a small separate dump
    wdump = os.path.join(tmp, "warmup.dat")
    write_utxo_dump(wdump, synthetic_utxo_rows(100_000, seed=9))
    convert_utxo_dump_to_parquet(
        spark, wdump, os.path.join(tmp, "warmup.parquet"), use_cache=False
    )

    result: dict[str, dict] = {}
    target = None
    for label, gsort in (("per_partition", False), ("global", True)):
        if MODES is not None and label not in MODES:
            continue
        out = os.path.join(tmp, f"out_{label}.parquet")
        best = float("inf")
        for rep in range(REPS):
            t0 = time.time()
            got = convert_utxo_dump_to_parquet(
                spark, dump, out, global_sort=gsort
            )
            wall = time.time() - t0
            assert got == n, (got, n)
            best = min(best, wall)
            print(f"{label} convert rep{rep}: {wall:.1f}s", flush=True)
        conv = spark.read.parquet(out)
        if target is None:
            # one single-occurrence, non-planted script, reused for both
            # modes so the lookups compare like for like
            target = bytes(
                conv.filter(
                    (F.length("script") == 25)
                    & (F.col("script") != F.lit(EATER_SCRIPT))
                )
                .select("script")
                .first()["script"]
            )
        lookup = (
            conv.filter(F.col("script") == F.lit(target))
            .select("txid", "vout", "amount", "height")
            .orderBy("height")
        )
        lookup.collect()  # warm the reader
        lbest = float("inf")
        for _ in range(5):
            t0 = time.time()
            rows = lookup.collect()
            lbest = min(lbest, time.time() - t0)
        assert len(rows) >= 1
        hit, total = files_overlapping(out, target)
        result[label] = {
            "convert_sec": round(best, 2),
            "convert_rows_per_sec": int(n / best),
            "lookup_sec": round(lbest, 4),
            "files_overlapping_target": hit,
            "files_total": total,
        }
        print(f"{label}: {json.dumps(result[label])}", flush=True)
        # mainnet-depth runs: drop this mode's output before the next
        # convert so sort spill always has full disk headroom
        shutil.rmtree(out, ignore_errors=True)

    line = {
        "metric": "global_sort_tradeoff",
        "rows": n,
        "shards": SHARDS,
        "reps": REPS,
        "modes": result,
    }
    with open(OUT, "w") as f:
        f.write(json.dumps(line) + "\n")
    print(json.dumps(line), flush=True)
    shutil.rmtree(tmp, ignore_errors=True)
    # tmpfs shuffle dir: Spark removes its own subdirs at shutdown, but
    # a crashed run must not leave GBs pinned in RAM. Clean whatever dir
    # is actually in effect — a user-preset SPARK_GRAFT_LOCAL_DIR (the
    # documented opt-out; setdefault above leaves it untouched) must get
    # the same cleanup, not just the default literal (ADVICE r9).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir and local_dir.startswith("/dev/shm/"):
        shutil.rmtree(local_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
