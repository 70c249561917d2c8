"""CLI entry: the Spark-native twin of the reference's clap interface
(/root/reference/src/main.rs:31-42 — ``-i`` input snapshot, ``-o`` output
parquet), runnable as ``python -m utxo_to_parquet_spark`` or via
spark-submit.

Logs the snapshot header and conversion progress the way the reference's
env_logger telemetry does (main.rs:169,193-196,269-273); per-task progress
is Spark's own (UI/event log) rather than hand-rolled counters.
"""

from __future__ import annotations

import argparse
import logging
import sys
import time


def _query_main(argv: list[str]) -> None:
    """``python -m utxo_to_parquet_spark query <name>`` — run one
    registered operator against a fixture directory and print the head
    of its result (the full library a reference user gets on top of the
    converter)."""
    parser = argparse.ArgumentParser(prog="utxo_to_parquet_spark query")
    parser.add_argument("name", nargs="?", help="registered query name (omit with --list)")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="fixture directory")
    parser.add_argument("--limit", type=int, default=20, help="rows to print (default 20)")
    parser.add_argument("--list", action="store_true", help="list registered query names")
    args = parser.parse_args(argv)

    from .operators import all_oracles, all_queries

    qs = all_queries()
    if args.list or not args.name:
        oracles = all_oracles()
        for name in sorted(qs):
            print(f"{name}  [{'oracle' if name in oracles else 'rows-only'}]")
        return
    if args.name not in qs:
        sys.exit(f"unknown query {args.name!r}; see --list")

    from .session import get_spark

    spark = get_spark("utxo-to-parquet-query")
    df = qs[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "query":
        _query_main(argv[1:])
        return
    parser = argparse.ArgumentParser(
        prog="utxo_to_parquet_spark",
        description="Convert a Bitcoin Core dumptxoutset snapshot to query-optimized Parquet",
    )
    parser.add_argument("-i", "--input", required=True, help="path to the UTXO snapshot dump")
    parser.add_argument("-o", "--output", required=True, help="output parquet path")
    parser.add_argument(
        "--chunk-rows", type=int, default=250_000, help="rows per decode split (default 250k)"
    )
    parser.add_argument(
        "--global-sort",
        action="store_true",
        help="cluster the output by script range: disjoint, sorted files, so a lookup"
        " touches one file (boundaries come from the framing pass)",
    )
    args = parser.parse_args(argv)

    logging.basicConfig(
        level=logging.INFO, format="[%(asctime)s.%(msecs)03d %(levelname)s] %(message)s",
        datefmt="%Y-%m-%dT%H:%M:%S",
    )
    log = logging.getLogger("utxo_to_parquet_spark")

    from .kernels.header import HEADER_LEN, parse_header
    from .session import get_spark
    from .sources import convert_utxo_dump_to_parquet
    from .sources.utxo_dump import _list_dump_files

    files = _list_dump_files(args.input)
    with open(files[0], "rb") as f:
        header = parse_header(memoryview(f.read(HEADER_LEN)))
    log.info(
        "snapshot: files=%d version=%d network=%s block_hash=%s utxos(first)=%d",
        len(files), header.version, header.network,
        header.block_hash[::-1].hex(), header.num_utxos,
    )

    spark = get_spark("utxo-to-parquet")
    t0 = time.time()
    n = convert_utxo_dump_to_parquet(
        spark, args.input, args.output,
        chunk_rows=args.chunk_rows, global_sort=args.global_sort,
    )
    dt = time.time() - t0
    log.info("wrote %d rows to %s in %.2fs (%.0f rows/s)", n, args.output, dt, n / max(dt, 1e-9))


if __name__ == "__main__":
    main()
