"""Splittable Spark source for Bitcoin Core's ``dumptxoutset`` snapshots.

The wire format (decoded by /root/reference/src/main.rs:171-230) is
stateful and non-splittable: the current txid is carried across records
(run-length grouping), and record boundaries are not discoverable without
decoding from the start. A naive port would therefore be a single task —
the reference itself is single-threaded (101% CPU, README.md:47).

This module makes the scan *splittable* with a two-pass design
(SURVEY.md §7.3):

1. **Framing pass** (sequential, driver-side): walk only the record
   *framing* — varint lengths and payload sizes, no script reconstruction,
   no hex rendering — and emit split descriptors
   ``(byte_offset, carried_txid, carried_coins_left, num_rows)`` every
   ``chunk_rows`` records. O(total bytes) but ~10× cheaper per record
   than a full decode. It also samples the 7-byte script prefix of
   every k-th record, which the sampled global sort (convert.py) takes
   its range boundaries from.
2. **Decode pass** (parallel, executors): each task seeks to its offset,
   restores the carried run-length state, fully decodes its ``num_rows``
   records, and yields Arrow RecordBatches via ``mapInArrow``.

At cluster scale the input must live on a shared filesystem (HDFS/S3/NFS)
so every executor can open it; the framing pass streams the file once and
its descriptors are a few KB regardless of input size, so driver memory
is O(1).

Output schema matches SURVEY.md §1.2 (signed 64-bit in place of the
reference's unsigned Arrow fields — all domain values < 2^63):
txid STRING (byte-reversed hex), vout LONG, height LONG,
coinbase BOOLEAN, amount LONG, script BINARY — all non-nullable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterable, NamedTuple, get_type_hints

from ..kernels.amount import compress_amount, decompress_amount
from ..kernels.header import HEADER_LEN, UtxoHeader, build_header, parse_header
from ..kernels.script import SPECIAL_SCRIPTS, compress_script, decode_script
from ..kernels.varint import (
    read_consensus_varint,
    read_core_varint,
    write_consensus_varint,
    write_core_varint,
)

UTXO_SCHEMA = (
    "txid string, vout long, height long, coinbase boolean, amount long, script binary"
)
# every integer column is a signed 64-bit LONG
INT64_MAX = 2**63 - 1


@dataclass(frozen=True)
class Split:
    """One parallel decode unit produced by the framing pass."""

    offset: int  # absolute byte offset of the first record in this split
    carried_txid: bytes  # txid in effect at `offset` (internal byte order)
    carried_coins_left: int  # coins remaining in the current run-length group
    num_rows: int


class SplitExtent(NamedTuple):
    """A split with the file and byte range it decodes from: the unit
    every reader hands to a task (:func:`split_extents`, :func:`read_split`)."""

    path: str
    offset: int
    length: int
    carried_txid: bytes
    carried_coins_left: int
    num_rows: int


# ---------------------------------------------------------------------------
# fixture writer (inverse of the decoder; used by tests and benchmarks)
# ---------------------------------------------------------------------------

def write_utxo_dump(
    path: str,
    rows: Iterable[tuple[bytes, int, int, bool, int, bytes]],
    *,
    version: int = 2,
    network: str = "mainnet",
    block_hash: bytes = b"\x00" * 32,
) -> int:
    """Serialize rows ``(txid32, vout, height, coinbase, amount, script)``
    into a valid ``dumptxoutset`` stream. Consecutive rows sharing a txid
    are run-length grouped exactly like Bitcoin Core's serializer.

    Returns the number of rows written.

    Streaming: only the current run-length group (one txid's coins) is
    buffered, so driver RSS stays O(1) in the row count — the 20M-row
    depth bench previously doubled driver RSS because this function
    materialized ``list(rows)`` just to know the header's coin count.
    The header is first written with an IMPOSSIBLE count (2^64-1) and
    the fixed-width 8-byte LE count field (last 8 bytes of the header)
    is patched once the stream is exhausted — so a crash or generator
    error mid-write leaves a file that readers reject loudly (framing
    hits EOF long before 2^64-1 rows), never one that silently parses
    as a valid empty or truncated snapshot (the S13 fail-loudly
    contract).
    """

    def _write_group(f, txid: bytes, coins: list) -> None:
        f.write(txid)
        f.write(write_consensus_varint(len(coins)))
        for vout, height, coinbase, amount, script in coins:
            f.write(write_consensus_varint(vout))
            f.write(write_core_varint((height << 1) | int(coinbase)))
            f.write(write_core_varint(compress_amount(amount)))
            f.write(compress_script(script))

    n = 0
    with open(path, "wb") as f:
        header = build_header(
            2**64 - 1, version=version, network=network, block_hash=block_hash
        )
        f.write(header)
        cur_txid: bytes | None = None
        coins: list[tuple[int, int, bool, int, bytes]] = []
        for txid, vout, height, coinbase, amount, script in rows:
            if len(txid) != 32:
                raise ValueError("txid must be 32 bytes (internal byte order)")
            if txid != cur_txid:
                if cur_txid is not None:
                    _write_group(f, cur_txid, coins)
                cur_txid = txid
                coins = []
            coins.append((vout, height, coinbase, amount, script))
            n += 1
        if cur_txid is not None:
            _write_group(f, cur_txid, coins)
        f.seek(len(header) - 8)
        f.write(n.to_bytes(8, "little"))
    return n


# ---------------------------------------------------------------------------
# pass 1: framing scan → splits
# ---------------------------------------------------------------------------

# worst-case framing bytes before the script payload, plus the payload
# bytes the sample reads:
# txid(32) + count(<=9) + vout(<=9) + code(<=10) + amount(<=10) + len(<=10) + 7
_FRAME_MARGIN = 87
# the Python framer reads the file in windows of this size, so driver
# memory stays bounded at any file size
WINDOW_BYTES = 64 * 1024 * 1024

# size of the framing pass's systematic sample of script prefixes, from
# which the sampled global sort takes its range boundaries (convert.py):
# every k-th record with k = ceil(rows / SAMPLE_ROWS), so the sample stays
# bounded at any input size
SAMPLE_ROWS = 32_768
PREFIX_LEN = 7
# decoded-script head of compression types 0-5 (kernels/script.py)
_TEMPLATE_HEADS = (b"\x76\xa9\x14", b"\xa9\x14", b"\x21\x02", b"\x21\x03", b"\x41\x04", b"\x41\x04")


@dataclass(frozen=True)
class DumpIndex:
    """What the framing pass learns about one snapshot file."""

    header: UtxoHeader
    splits: list[Split]
    sample_stride: int  # records 0, k, 2k, ... are sampled
    # their scripts' first PREFIX_LEN bytes, zero-padded, concatenated
    sample: bytes


def sample_stride(n: int) -> int:
    """The stride k that keeps an n-row sample within SAMPLE_ROWS."""
    return max(1, -(-n // SAMPLE_ROWS))


def _index_cache_path(path: str) -> str:
    return path + ".splits.json"


def _load_split_cache(path: str, chunk_rows: int) -> "DumpIndex | None":
    """Reuse a sidecar split index if it matches the file identity.

    The framing pass is the one sequential stage (Amdahl's bound on the
    whole conversion at large inputs), but it's a pure function of the
    file bytes — so it is computed once and persisted next to the input.
    Validity = the sidecar's digest matches its content, (size,
    mtime_ns, chunk_rows, SAMPLE_ROWS) all match, the sample has the
    header's length, split rows sum to ``num_utxos``, the first split
    carries no coins and split offsets strictly increase from HEADER_LEN
    within the file; an old-format, damaged or stale sidecar is a miss.
    The digest is what catches an edited interior split (a moved offset,
    a changed carried txid or count), which would otherwise decode as a
    fault of the dump.
    """
    import json

    cache = _index_cache_path(path)
    try:
        with open(cache) as fh:
            doc = json.load(fh)
        st = os.stat(path)
        if (
            doc["digest"] != _split_digest(doc)
            or doc["size"] != st.st_size
            or doc["mtime_ns"] != st.st_mtime_ns
            or doc["chunk_rows"] != chunk_rows
            or doc["sample_rows"] != SAMPLE_ROWS
        ):
            return None
        with open(path, "rb") as fh:
            header = parse_header(memoryview(fh.read(HEADER_LEN)))
        splits = [
            Split(o, bytes.fromhex(t), c, r) for o, t, c, r in doc["splits"]
        ]
        stride = doc["sample_stride"]
        sample = bytes.fromhex(doc["sample"])
        if len(sample) != PREFIX_LEN * -(-header.num_utxos // stride):
            return None
        offsets = [s.offset for s in splits] + [st.st_size]
        if (
            sum(s.num_rows for s in splits) != header.num_utxos
            or any(s.num_rows <= 0 for s in splits)
            or (splits and (splits[0].offset, splits[0].carried_coins_left) != (HEADER_LEN, 0))
            or any(a >= b for a, b in zip(offsets, offsets[1:]))
        ):
            return None
        return DumpIndex(header, splits, stride, sample)
    except (OSError, KeyError, ValueError, TypeError, ZeroDivisionError):
        return None


def _split_digest(doc: dict) -> str:
    """sha256 of a sidecar's content, every field but the digest itself."""
    import hashlib
    import json

    body = {k: v for k, v in doc.items() if k != "digest"}
    return hashlib.sha256(json.dumps(body, sort_keys=True).encode()).hexdigest()


def _store_split_cache(path: str, chunk_rows: int, index: DumpIndex) -> None:
    import json

    try:
        st = os.stat(path)
        doc = {
            "size": st.st_size,
            "mtime_ns": st.st_mtime_ns,
            "chunk_rows": chunk_rows,
            "sample_rows": SAMPLE_ROWS,
            "sample_stride": index.sample_stride,
            "splits": [
                (s.offset, s.carried_txid.hex(), s.carried_coins_left, s.num_rows)
                for s in index.splits
            ],
            "sample": index.sample.hex(),
        }
        doc["digest"] = _split_digest(doc)
        tmp = _index_cache_path(path) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, _index_cache_path(path))
    except OSError:
        pass  # cache is best-effort (read-only input dirs are fine)


def index_utxo_dump(path: str, chunk_rows: int = 250_000, use_cache: bool = True) -> DumpIndex:
    """Walk record framing sequentially and emit decode splits.

    Only lengths are examined — scripts are skipped, amounts/heights are
    not materialized — so this pass is ~10x cheaper per record than a
    full decode. The loop is fully inlined over a bytes window (function
    calls and numpy scalar indexing both cost more than the work itself
    at this granularity; measured ~800k records/s/core in CPython).
    Windows (``WINDOW_BYTES``) keep driver memory bounded regardless of
    file size.

    On the way it takes a systematic sample of every k-th record's
    script prefix (k = ceil(rows / SAMPLE_ROWS)): the first PREFIX_LEN
    bytes of the decoded script, zero-padded, built from the compression
    type and the payload bytes the walk steps over, with no
    decompression.

    Raises ValueError on malformed input (bad magic, a group of zero or
    more than 2^63-1 coins, truncation), mirroring the reference's
    asserts (main.rs:174,225).

    With ``use_cache`` (default), the index is persisted to a
    ``<path>.splits.json`` sidecar and reused while the file identity
    (size + mtime) matches — repeat reads skip the sequential pass
    entirely.
    """
    if use_cache:
        cached = _load_split_cache(path, chunk_rows)
        if cached is not None:
            return cached

    file_size = os.path.getsize(path)
    f = open(path, "rb")
    try:
        header = parse_header(memoryview(f.read(HEADER_LEN)))
        n = header.num_utxos
        stride = sample_stride(n)

        # the C kernel (sources/native.py) runs the same loop ~40x faster;
        # fall through to the Python loop when no compiler is available
        from .native import frame_scan_native

        native = frame_scan_native(path, HEADER_LEN, n, chunk_rows, stride)
        if native is not None:
            index = DumpIndex(
                header, [Split(o, t, c, r) for o, t, c, r in native[0]], stride, native[1]
            )
            if use_cache:
                _store_split_cache(path, chunk_rows, index)
            return index

        win_start = HEADER_LEN
        data = f.read(WINDOW_BYTES)
        win_len = len(data)

        splits: list[Split] = []
        sample = bytearray()
        sample_wait = 1
        pos = 0  # relative to win_start
        coins_left = 0
        cur_txid = b"\x00" * 32
        chunk_start_abs = HEADER_LEN
        chunk_start_txid = cur_txid
        chunk_start_coins = 0
        chunk_rows_seen = 0

        i = 0
        try:
            while i < n:
                # refill so the fixed-size frame head stays in-window
                if pos + _FRAME_MARGIN > win_len and win_start + win_len < file_size:
                    win_start += pos
                    f.seek(win_start)
                    data = f.read(WINDOW_BYTES)
                    win_len = len(data)
                    pos = 0
                if pos >= win_len:
                    raise ValueError("truncated dump: record start past EOF")

                if coins_left == 0:
                    if pos + 33 > win_len:
                        raise ValueError("truncated dump: expected txid")
                    cur_txid = data[pos : pos + 32]
                    pos += 32
                    b0 = data[pos]
                    if b0 < 0xFD:
                        coins_left = b0
                        pos += 1
                    elif b0 == 0xFD:
                        if pos + 3 > win_len:
                            raise ValueError("truncated dump: short CompactSize count")
                        coins_left = int.from_bytes(data[pos + 1 : pos + 3], "little")
                        pos += 3
                    elif b0 == 0xFE:
                        if pos + 5 > win_len:
                            raise ValueError("truncated dump: short CompactSize count")
                        coins_left = int.from_bytes(data[pos + 1 : pos + 5], "little")
                        pos += 5
                    else:
                        if pos + 9 > win_len:
                            raise ValueError("truncated dump: short CompactSize count")
                        coins_left = int.from_bytes(data[pos + 1 : pos + 9], "little")
                        pos += 9
                    if coins_left <= 0:
                        raise ValueError("invalid dump: zero coins for txid group")
                    if coins_left > INT64_MAX:
                        raise ValueError("invalid dump: coin count out of range")

                # vout (consensus varint): width from the lead byte
                b0 = data[pos]
                pos += 1 if b0 < 0xFD else 3 if b0 == 0xFD else 5 if b0 == 0xFE else 9
                # code + amount (core varints): skip to terminator byte
                while data[pos] & 0x80:
                    pos += 1
                pos += 1
                while data[pos] & 0x80:
                    pos += 1
                pos += 1
                # script length varint: value needed to skip the payload
                slen = 0
                while True:
                    b0 = data[pos]
                    pos += 1
                    slen = (slen << 7) | (b0 & 0x7F)
                    if b0 & 0x80:
                        slen += 1
                    else:
                        break
                if slen < SPECIAL_SCRIPTS:
                    plen = 20 if slen < 2 else 32
                else:
                    plen = slen - SPECIAL_SCRIPTS
                if win_start + pos + plen > file_size:
                    raise ValueError("truncated dump: record payload past EOF")
                sample_wait -= 1
                if sample_wait == 0:
                    head = _TEMPLATE_HEADS[slen] if slen < SPECIAL_SCRIPTS else b""
                    take = min(PREFIX_LEN - len(head), plen)
                    sample += (head + data[pos : pos + take]).ljust(PREFIX_LEN, b"\x00")
                    sample_wait = stride
                pos += plen

                coins_left -= 1
                i += 1
                chunk_rows_seen += 1
                if chunk_rows_seen == chunk_rows or i == n:
                    splits.append(
                        Split(chunk_start_abs, chunk_start_txid, chunk_start_coins, chunk_rows_seen)
                    )
                    chunk_start_abs = win_start + pos
                    chunk_start_txid = cur_txid
                    chunk_start_coins = coins_left
                    chunk_rows_seen = 0
        except IndexError:
            raise ValueError("truncated dump: framing ran past EOF") from None
        index = DumpIndex(header, splits, stride, bytes(sample))
        if use_cache:
            _store_split_cache(path, chunk_rows, index)
        return index
    finally:
        f.close()


# ---------------------------------------------------------------------------
# pass 2: parallel decode
# ---------------------------------------------------------------------------

def _decode_split(data: bytes, carried_txid: bytes, carried_coins_left: int, num_rows: int):
    """Fully decode ``num_rows`` records from the start of ``data`` (one
    split's bytes) into a pyarrow RecordBatch.

    Matches the reference's Batch struct (main.rs:280-288): parallel
    columns, Arrow at the batch boundary. The C kernel decodes when it
    is available; this Python loop is its fallback and its twin. Both
    raise ValueError naming the field when a vout, height or amount
    does not fit its signed 64-bit column. Numerics land in
    preallocated numpy arrays (zero-copy into Arrow); txid is rendered
    byte-reversed-hex once per run-length group, not per row.
    """
    import numpy as np
    import pyarrow as pa

    from .native import decode_split_native

    rb = decode_split_native(data, carried_txid, carried_coins_left, num_rows)
    if rb is not None:
        return rb

    n = num_rows
    pos = 0
    coins_left = carried_coins_left
    txid_hex = carried_txid[::-1].hex()

    txids: list[str] = []
    vouts = np.empty(n, dtype=np.int64)
    heights = np.empty(n, dtype=np.int64)
    coinbases = np.empty(n, dtype=bool)
    amounts = np.empty(n, dtype=np.int64)
    scripts: list[bytes] = []

    try:
        for i in range(n):
            if coins_left == 0:
                if pos + 33 > len(data):
                    raise ValueError("truncated dump: expected txid")
                txid_hex = data[pos : pos + 32][::-1].hex()
                pos += 32
                coins_left, pos = read_consensus_varint(data, pos)
                if coins_left <= 0:
                    raise ValueError("invalid dump: zero coins for txid group")
                if coins_left > INT64_MAX:
                    raise ValueError("invalid dump: coin count out of range")
            vout, pos = read_consensus_varint(data, pos)
            if vout > INT64_MAX:
                raise ValueError("invalid dump: vout out of range")
            code, pos = read_core_varint(data, pos)
            if code >> 64:  # height = code >> 1 must fit 63 bits
                raise ValueError("invalid dump: height out of range")
            compressed_amount, pos = read_core_varint(data, pos)
            amount = decompress_amount(compressed_amount)
            if compressed_amount >> 64 or amount > INT64_MAX:
                raise ValueError("invalid dump: amount out of range")
            script, pos = decode_script(data, pos)
            coins_left -= 1

            txids.append(txid_hex)
            vouts[i] = vout
            heights[i] = code >> 1
            coinbases[i] = bool(code & 1)
            amounts[i] = amount
            scripts.append(script)
    except IndexError:
        raise ValueError("truncated dump: record runs past its split") from None

    return pa.RecordBatch.from_arrays(
        [
            pa.array(txids, type=pa.string()),
            pa.array(vouts, type=pa.int64()),
            pa.array(heights, type=pa.int64()),
            pa.array(coinbases, type=pa.bool_()),
            pa.array(amounts, type=pa.int64()),
            pa.array(scripts, type=pa.binary()),
        ],
        names=["txid", "vout", "height", "coinbase", "amount", "script"],
    )


def read_utxo_dump(spark, path: str, *, chunk_rows: int = 250_000, use_cache: bool = True):
    """Read a ``dumptxoutset`` snapshot into a DataFrame, in parallel.

    ``path`` may be a single snapshot, a directory of snapshot shards, or
    a glob. Framing pass on the driver → one decode task per split on
    executors via ``mapInArrow`` (Arrow RecordBatches cross the
    Python/JVM boundary directly — no pandas materialization, no per-row
    crossings).
    """
    return decode_frames(spark, frame_dump_files(path, chunk_rows=chunk_rows, use_cache=use_cache))[1]


def _list_dump_files(path: str) -> list[str]:
    """Expand a path argument to concrete dump files: a single file, a
    directory of shards (all regular files, sorted), or a glob."""
    import glob as _glob

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if os.path.isfile(os.path.join(path, f)) and not f.endswith(".splits.json")
        )
    elif any(ch in path for ch in "*?["):
        files = sorted(p for p in _glob.glob(path) if not p.endswith(".splits.json"))
    else:
        files = [path]
    if not files:
        raise ValueError(f"no dump files at {path}")
    return files


def frame_dump_files(
    path: str, *, chunk_rows: int = 250_000, use_cache: bool = True
) -> list[tuple[str, DumpIndex]]:
    """Frame every file of ``path`` (a snapshot, a directory of shards or
    a glob), once each. Multi-file inputs frame in a thread pool — the C
    framing kernel releases the GIL inside ctypes, so per-file framing
    runs truly in parallel, removing the sequential-pass bound whenever
    the input is sharded."""
    from concurrent.futures import ThreadPoolExecutor

    files = [os.path.abspath(f) for f in _list_dump_files(path)]

    def index_one(f):
        return f, index_utxo_dump(f, chunk_rows=chunk_rows, use_cache=use_cache)

    if len(files) == 1:
        return [index_one(files[0])]
    with ThreadPoolExecutor(max_workers=min(len(files), 16)) as pool:
        return list(pool.map(index_one, files))


def split_extents(indexed: list[tuple[str, DumpIndex]]) -> list[SplitExtent]:
    """Every split of framed files (:func:`frame_dump_files`) with its
    byte extent, which ends where the next split begins — tasks read only
    their own range, so I/O per task is O(split), not O(file)."""
    out = []
    for f, ix in indexed:
        ends = [s.offset for s in ix.splits[1:]] + [os.path.getsize(f)]
        out += [
            SplitExtent(f, s.offset, end - s.offset, s.carried_txid, s.carried_coins_left, s.num_rows)
            for s, end in zip(ix.splits, ends)
        ]
    return out


def read_split(extent: SplitExtent):
    """Read one split's bytes and decode them into a RecordBatch."""
    with open(extent.path, "rb") as f:
        f.seek(extent.offset)
        data = f.read(extent.length)
    return _decode_split(data, extent.carried_txid, extent.carried_coins_left, extent.num_rows)


def decode_frames(spark, indexed: list[tuple[str, DumpIndex]]):
    """The combined header and the parallel decode DataFrame of framed
    files (:func:`frame_dump_files`). The header carries the FIRST
    file's version/network/block-hash and the SUM of rows across files,
    so callers needing ``num_utxos`` don't re-run the framing pass."""
    header = indexed[0][1].header
    total_rows = sum(ix.header.num_utxos for _, ix in indexed)
    header = UtxoHeader(header.version, header.network, header.block_hash, total_rows)

    extents = split_extents(indexed)
    if not extents:  # empty-but-valid snapshot(s)
        return header, spark.createDataFrame([], UTXO_SCHEMA)

    # parallelize(numSlices=len(extents)) pins one split per partition up
    # front — no repartition shuffle stage between the descriptor list and
    # the decode tasks.
    spark_type = {str: "string", int: "long", bytes: "binary"}
    splits_df = spark.createDataFrame(
        spark.sparkContext.parallelize(extents, numSlices=len(extents)),
        ", ".join(f"{k} {spark_type[t]}" for k, t in get_type_hints(SplitExtent).items()),
    )

    def decode(batches):
        for rb in batches:
            for row in rb.to_pylist():
                yield read_split(SplitExtent(**row))

    return header, splits_df.mapInArrow(decode, UTXO_SCHEMA)
