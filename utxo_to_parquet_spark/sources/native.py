"""Optional C acceleration for the framing scan and split decode, via ctypes.

Two kernels, both with pure-Python fallbacks in sources/utxo_dump.py:

- ``frame_scan``: the sequential framing pass — the one part of the
  pipeline Spark cannot parallelize, so its per-record cost bounds
  end-to-end conversion throughput. ~40x the inlined CPython loop.
  It also records the script-prefix sample the sampled global sort
  takes its range boundaries from.
- ``decode_scan``: the per-split full decode run by executor tasks. It
  fills Arrow-ready buffers directly (int64 numerics, fixed-width
  64-char txid hex with its own offsets implied, cumulative int32
  script offsets + one concatenated payload buffer), so Python does
  zero per-row work — the RecordBatch is assembled from pointers.
  secp256k1 point decompression (script types 4/5, main.rs:131-161)
  needs 256-bit modular sqrt, which stays in Python: the C side writes
  the 67-byte template with Y zeroed and reports (offset, parity)
  exceptions for Python to patch — rare rows, so the patch loop is
  off the hot path.

Build strategy: compile once with the system C compiler into a cached
shared object; on ANY failure (no compiler, sandboxed exec, ...) callers
fall back to the Python loop. No third-party packages involved.
``tools/check_native_sanitize.py`` replays truncated and malformed dumps
through both kernels built with ASan and UBSan.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

_C_SOURCE = r"""
#include <limits.h>
#include <stdint.h>

/* CompactSize at *pos. Returns 0, or -1 if it runs past size. */
static int compact_size(const uint8_t *data, long size, long *pos, uint64_t *v)
{
    long p = *pos;
    if (p >= size) return -1;
    uint8_t b0 = data[p];
    int w = (b0 < 0xFD) ? 0 : (b0 == 0xFD) ? 2 : (b0 == 0xFE) ? 4 : 8;
    if (w == 0) { *v = b0; *pos = p + 1; return 0; }
    if (p + 1 + w > size) return -1;
    uint64_t x = 0;
    for (int k = w; k >= 1; k--) x = (x << 8) | data[p + k];
    *v = x;
    *pos = p + 1 + w;
    return 0;
}

/* Bitcoin Core varint at *pos (main.rs:45-59). Returns 0, or -1 if it
 * runs past size. */
static int core_varint(const uint8_t *data, long size, long *pos, uint64_t *v)
{
    uint64_t x = 0;
    for (long p = *pos;;) {
        if (p >= size) return -1;
        uint8_t b = data[p++];
        x = (x << 7) | (b & 0x7F);
        if (b & 0x80) x += 1;
        else { *v = x; *pos = p; return 0; }
    }
}

/* Decoded-script head of compression types 0-5 (main.rs:109-161). */
static const uint8_t TEMPLATE_HEAD[6][3] = {
    {0x76, 0xA9, 0x14}, {0xA9, 0x14}, {0x21, 0x02}, {0x21, 0x03}, {0x41, 0x04}, {0x41, 0x04}};
static const int TEMPLATE_HEAD_LEN[6] = {3, 2, 2, 2, 2, 2};

/* First 7 bytes of the decoded script, zero-padded, from its compressed
 * form: the template head plus payload bytes, no decompression. */
static void script_prefix(const uint8_t *payload, uint64_t stype, uint64_t plen,
                          uint8_t *dst)
{
    int h = 0;
    if (stype < 6) {
        h = TEMPLATE_HEAD_LEN[stype];
        for (int k = 0; k < h; k++) dst[k] = TEMPLATE_HEAD[stype][k];
    }
    for (int k = h; k < 7; k++)
        dst[k] = ((uint64_t)(k - h) < plen) ? payload[k - h] : 0;
}

/* Frame the run-length-grouped coin records of a dumptxoutset body.
 *
 * data/size: full file; scanning starts at start (absolute).
 * n_records: coins to frame. chunk_rows: rows per split.
 * Outputs per split: absolute offset, absolute offset of the governing
 * txid, coins left in the current group at the split start, row count.
 * Records 0, k, 2k, ... (k = sample_every) also write their script's
 * 7-byte prefix to out_sample, ceil(n_records / k) prefixes in all.
 * Returns the number of splits, or a negative error code:
 *   -1 truncated, -2 zero-coin group, -3 split or sample capacity exceeded.
 */
long frame_scan(const uint8_t *data, long size, long start,
                long n_records, long chunk_rows,
                long *out_off, long *out_txid_off, long *out_coins, long *out_rows,
                long max_splits,
                long sample_every, uint8_t *out_sample, long max_samples)
{
    long pos = start;
    long coins_left = 0;
    long txid_off = -1;
    long n_splits = 0, n_samples = 0, sample_wait = 1;
    long chunk_start = pos, chunk_txid = -1, chunk_coins = 0, chunk_seen = 0;
    uint64_t v, stype;

    for (long i = 0; i < n_records; i++) {
        if (coins_left == 0) {
            if (pos + 33 > size) return -1;
            txid_off = pos;
            pos += 32;
            if (compact_size(data, size, &pos, &v)) return -1;
            if (v == 0 || v > LONG_MAX) return -2;
            coins_left = (long)v;
        }
        /* vout, code, amount: skipped; script type: sizes the payload */
        if (compact_size(data, size, &pos, &v)) return -1;
        if (core_varint(data, size, &pos, &v)) return -1;
        if (core_varint(data, size, &pos, &v)) return -1;
        if (core_varint(data, size, &pos, &stype)) return -1;
        uint64_t plen = (stype < 6) ? ((stype < 2) ? 20 : 32) : stype - 6;
        if (plen > (uint64_t)(size - pos)) return -1;
        if (--sample_wait == 0) {
            if (n_samples >= max_samples) return -3;
            script_prefix(data + pos, stype, plen, out_sample + 7 * n_samples);
            n_samples++;
            sample_wait = sample_every;
        }
        pos += (long)plen;

        coins_left--;
        chunk_seen++;
        if (chunk_seen == chunk_rows || i == n_records - 1) {
            if (n_splits >= max_splits) return -3;
            out_off[n_splits] = chunk_start;
            out_txid_off[n_splits] = chunk_txid;
            out_coins[n_splits] = chunk_coins;
            out_rows[n_splits] = chunk_seen;
            n_splits++;
            chunk_start = pos;
            chunk_txid = txid_off;
            chunk_coins = coins_left;
            chunk_seen = 0;
        }
    }
    return n_splits;
}

static const char HEX[] = "0123456789abcdef";

/* 32-byte txid -> 64-char byte-reversed lowercase hex (display form) */
static void txid_hex(const uint8_t *txid, uint8_t *out)
{
    for (int k = 0; k < 32; k++) {
        uint8_t b = txid[31 - k];
        out[2*k]   = HEX[b >> 4];
        out[2*k+1] = HEX[b & 0x0F];
    }
}

/* inverse of Bitcoin Core's CompressAmount (main.rs:83-107) */
static int64_t decompress_amount(uint64_t x)
{
    if (x == 0) return 0;
    x--;
    int e = (int)(x % 10);
    x /= 10;
    uint64_t n;
    if (e < 9) {
        int d = (int)(x % 9) + 1;
        x /= 9;
        n = x * 10 + (uint64_t)d;
    } else {
        n = x + 1;
    }
    while (e--) n *= 10;
    return (int64_t)n;
}

/* Fully decode n_records coins of one split into Arrow-ready buffers.
 *
 * txhex: 64*n bytes of fixed-width txid hex (offsets are implicit).
 * script_off: n+1 cumulative int32 offsets into script_buf.
 * Types 4/5 write the P2PK template with Y zeroed and append
 * (script_buf offset, parity prefix 2/3) to exc_off/exc_parity for the
 * caller to patch (secp256k1 sqrt stays in Python).
 * Returns the exception count, or negative: -1 truncated, -2 zero-coin
 * group, -4 script_buf capacity exceeded.
 */
long decode_scan(const uint8_t *data, long size, long start,
                 long coins_left, const uint8_t *carried_txid, long n_records,
                 int64_t *vout, int64_t *height, uint8_t *coinbase, int64_t *amount,
                 int32_t *script_off, uint8_t *script_buf, long script_cap,
                 uint8_t *txhex,
                 int64_t *exc_off, uint8_t *exc_parity)
{
    long pos = start;
    uint8_t cur_hex[64];
    long n_exc = 0;
    long so = 0;
    txid_hex(carried_txid, cur_hex);
    script_off[0] = 0;

    for (long i = 0; i < n_records; i++) {
        uint64_t v, code, amt, slen;
        if (coins_left == 0) {
            if (pos + 33 > size) return -1;
            txid_hex(data + pos, cur_hex);
            pos += 32;
            if (compact_size(data, size, &pos, &v)) return -1;
            if (v == 0 || v > LONG_MAX) return -2;
            coins_left = (long)v;
        }
        for (int k = 0; k < 64; k++) txhex[i*64 + k] = cur_hex[k];

        if (compact_size(data, size, &pos, &v)) return -1;
        vout[i] = (int64_t)v;
        if (core_varint(data, size, &pos, &code)) return -1;
        if (core_varint(data, size, &pos, &amt)) return -1;
        height[i] = (int64_t)(code >> 1);
        coinbase[i] = (uint8_t)(code & 1);
        amount[i] = decompress_amount(amt);

        /* script: compressed special forms or raw (main.rs:109-161) */
        if (core_varint(data, size, &pos, &slen)) return -1;
        uint8_t *dst = script_buf + so;
        if (slen == 0) {                       /* P2PKH */
            if (pos + 20 > size) return -1;
            if (so + 25 > script_cap) return -4;
            dst[0] = 0x76; dst[1] = 0xA9; dst[2] = 20;
            for (int k = 0; k < 20; k++) dst[3+k] = data[pos+k];
            dst[23] = 0x88; dst[24] = 0xAC;
            pos += 20; so += 25;
        } else if (slen == 1) {                /* P2SH */
            if (pos + 20 > size) return -1;
            if (so + 23 > script_cap) return -4;
            dst[0] = 0xA9; dst[1] = 20;
            for (int k = 0; k < 20; k++) dst[2+k] = data[pos+k];
            dst[22] = 0x87;
            pos += 20; so += 23;
        } else if (slen == 2 || slen == 3) {   /* compressed P2PK */
            if (pos + 32 > size) return -1;
            if (so + 35 > script_cap) return -4;
            dst[0] = 33; dst[1] = (uint8_t)slen;
            for (int k = 0; k < 32; k++) dst[2+k] = data[pos+k];
            dst[34] = 0xAC;
            pos += 32; so += 35;
        } else if (slen == 4 || slen == 5) {   /* uncompressed P2PK: Y patched in Python */
            if (pos + 32 > size) return -1;
            if (so + 67 > script_cap) return -4;
            dst[0] = 65; dst[1] = 0x04;
            for (int k = 0; k < 32; k++) dst[2+k] = data[pos+k];
            for (int k = 34; k < 66; k++) dst[k] = 0;
            dst[66] = 0xAC;
            exc_off[n_exc] = so;
            exc_parity[n_exc] = (uint8_t)(slen - 2);
            n_exc++;
            pos += 32; so += 67;
        } else {                               /* raw script of slen-6 bytes */
            if (slen - 6 > (uint64_t)(size - pos)) return -1;
            long raw = (long)(slen - 6);
            if (so + raw > script_cap) return -4;
            for (long k = 0; k < raw; k++) dst[k] = data[pos+k];
            pos += raw; so += raw;
        }
        /* offsets are int32 on the Arrow side: reject instead of silently
           wrapping if a chunk's decoded script bytes ever exceed 2^31-1
           (script_cap alone does not bound so to int32 range) */
        if (so > 2147483647L) return -5;
        script_off[i+1] = (int32_t)so;
        coins_left--;
    }
    return n_exc;
}
"""

_lib = None
_tried = False


def _build() -> "ctypes.CDLL | None":
    tag = hashlib.sha256(_C_SOURCE.encode()).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), f"utxo_frame_{tag}.so")
    if not os.path.exists(cache):
        # compile to a process-unique path, then rename atomically —
        # concurrent executor processes on a cold cache must not
        # interleave writes into the shared .so
        src = os.path.join(tempfile.gettempdir(), f"utxo_frame_{tag}_{os.getpid()}.c")
        tmp_so = src.replace(".c", ".so")
        with open(src, "w") as fh:
            fh.write(_C_SOURCE)
        subprocess.run(
            ["cc", "-O2", "-shared", "-fPIC", "-o", tmp_so, src],
            check=True,
            capture_output=True,
            timeout=60,
        )
        os.replace(tmp_so, cache)
        os.unlink(src)
    lib = ctypes.CDLL(cache)
    lib.frame_scan.restype = ctypes.c_long
    lib.frame_scan.argtypes = [
        ctypes.POINTER(ctypes.c_uint8),
        ctypes.c_long,
        ctypes.c_long,
        ctypes.c_long,
        ctypes.c_long,
        ctypes.POINTER(ctypes.c_long),
        ctypes.POINTER(ctypes.c_long),
        ctypes.POINTER(ctypes.c_long),
        ctypes.POINTER(ctypes.c_long),
        ctypes.c_long,
        ctypes.c_long,  # sample_every
        ctypes.POINTER(ctypes.c_uint8),  # out_sample
        ctypes.c_long,  # max_samples
    ]
    lib.decode_scan.restype = ctypes.c_long
    lib.decode_scan.argtypes = [
        ctypes.POINTER(ctypes.c_uint8),  # data
        ctypes.c_long,  # size
        ctypes.c_long,  # start
        ctypes.c_long,  # coins_left
        ctypes.POINTER(ctypes.c_uint8),  # carried_txid
        ctypes.c_long,  # n_records
        ctypes.POINTER(ctypes.c_int64),  # vout
        ctypes.POINTER(ctypes.c_int64),  # height
        ctypes.POINTER(ctypes.c_uint8),  # coinbase
        ctypes.POINTER(ctypes.c_int64),  # amount
        ctypes.POINTER(ctypes.c_int32),  # script_off
        ctypes.POINTER(ctypes.c_uint8),  # script_buf
        ctypes.c_long,  # script_cap
        ctypes.POINTER(ctypes.c_uint8),  # txhex
        ctypes.POINTER(ctypes.c_int64),  # exc_off
        ctypes.POINTER(ctypes.c_uint8),  # exc_parity
    ]
    return lib


def get_native_framer():
    """The compiled framing kernel, or None if unavailable."""
    global _lib, _tried
    if not _tried:
        _tried = True
        try:
            _lib = _build()
        except Exception:
            _lib = None
    return _lib


def frame_scan_native(path: str, start: int, n_records: int, chunk_rows: int, sample_every: int):
    """mmap the file and run the C framing loop.

    Returns ``(splits, sample)``: the splits as a list of
    (offset, txid_bytes, coins_left, rows), and the 7-byte script
    prefixes of records 0, k, 2k, ... (k = ``sample_every``)
    concatenated; or None if the native kernel is unavailable. Raises
    ValueError for malformed input, matching the Python framer.
    """
    import mmap

    lib = get_native_framer()
    if lib is None:
        return None
    with open(path, "rb") as fh:
        # ACCESS_COPY gives a writable (copy-on-write) view, which ctypes
        # can address zero-copy via from_buffer; we never write to it
        mm = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_COPY)
        c_data = None
        try:
            size = len(mm)
            max_splits = max(n_records // max(chunk_rows, 1) + 2, 16)
            off = (ctypes.c_long * max_splits)()
            txo = (ctypes.c_long * max_splits)()
            coins = (ctypes.c_long * max_splits)()
            rows = (ctypes.c_long * max_splits)()
            n_samples = -(-n_records // sample_every)
            sample = (ctypes.c_uint8 * (7 * n_samples))()
            c_data = (ctypes.c_uint8 * size).from_buffer(mm)
            n = lib.frame_scan(
                c_data, size, start, n_records, chunk_rows, off, txo, coins, rows, max_splits,
                sample_every, sample, n_samples,
            )
            if n == -1:
                raise ValueError("truncated dump: framing ran past EOF")
            if n == -2:
                raise ValueError("invalid dump: zero coins for txid group")
            if n < 0:
                raise ValueError(f"framing failed with code {n}")
            out = []
            for k in range(n):
                txid = mm[txo[k] : txo[k] + 32] if txo[k] >= 0 else b"\x00" * 32
                out.append((off[k], txid, coins[k], rows[k]))
            return out, bytes(sample)
        finally:
            del c_data  # release the buffer view before closing the map
            mm.close()


def decode_split_native(data: bytes, carried_txid: bytes, carried_coins_left: int, n: int):
    """Decode one split's bytes into a pyarrow RecordBatch via the C kernel.

    Returns None when the kernel is unavailable; raises ValueError on
    malformed input (same messages as the Python decoder). ``data`` must
    be a bytes object covering exactly the split's byte extent.
    """
    lib = get_native_framer()
    if lib is None or n <= 0:
        return None

    import numpy as np
    import pyarrow as pa

    from ..kernels.script import decompress_pubkey

    size = len(data)
    vout = np.empty(n, dtype=np.int64)
    height = np.empty(n, dtype=np.int64)
    coinbase = np.empty(n, dtype=np.uint8)
    amount = np.empty(n, dtype=np.int64)
    script_off = np.empty(n + 1, dtype=np.int32)
    # worst-case script expansion is ~2.1x input (33B compressed P2PK ->
    # 67B template); 3x + slack is always enough
    script_cap = 3 * size + 256
    script_buf = np.empty(script_cap, dtype=np.uint8)
    txhex = np.empty(64 * n, dtype=np.uint8)
    exc_off = np.empty(n, dtype=np.int64)
    exc_parity = np.empty(n, dtype=np.uint8)

    u8p = ctypes.POINTER(ctypes.c_uint8)
    ret = lib.decode_scan(
        ctypes.cast(ctypes.c_char_p(data), u8p),
        size,
        0,
        carried_coins_left,
        ctypes.cast(ctypes.c_char_p(carried_txid), u8p),
        n,
        vout.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        height.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        coinbase.ctypes.data_as(u8p),
        amount.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        script_off.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
        script_buf.ctypes.data_as(u8p),
        script_cap,
        txhex.ctypes.data_as(u8p),
        exc_off.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        exc_parity.ctypes.data_as(u8p),
    )
    if ret == -1:
        raise ValueError("truncated dump: record payload past EOF")
    if ret == -2:
        raise ValueError("invalid dump: zero coins for txid group")
    if ret == -4:
        raise ValueError("decode failed: script buffer capacity exceeded")
    if ret == -5:
        raise ValueError(
            "decode failed: chunk script bytes exceed int32 offset range"
            " — use a smaller chunk_rows"
        )
    if ret < 0:
        raise ValueError(f"decode failed with code {ret}")

    # patch uncompressed-P2PK Y coordinates (256-bit modular sqrt)
    for k in range(ret):
        off = int(exc_off[k])
        x_bytes = script_buf[off + 2 : off + 34].tobytes()
        pub = decompress_pubkey(int(exc_parity[k]), x_bytes)
        script_buf[off + 1 : off + 66] = np.frombuffer(pub, dtype=np.uint8)

    txid_arr = pa.Array.from_buffers(
        pa.utf8(),
        n,
        [None, pa.py_buffer((np.arange(n + 1, dtype=np.int32) * 64).tobytes()), pa.py_buffer(txhex)],
    )
    total = int(script_off[n])
    script_arr = pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(script_off), pa.py_buffer(script_buf[:total])],
    )
    return pa.RecordBatch.from_arrays(
        [
            txid_arr,
            pa.array(vout, type=pa.int64()),
            pa.array(height, type=pa.int64()),
            pa.array(coinbase.view(np.bool_), type=pa.bool_()),
            pa.array(amount, type=pa.int64()),
            script_arr,
        ],
        names=["txid", "vout", "height", "coinbase", "amount", "script"],
    )
