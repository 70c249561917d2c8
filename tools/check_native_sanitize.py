"""Replay truncated and malformed dumps through the native kernels built
with AddressSanitizer and UndefinedBehaviorSanitizer.

Compiles ``sources.native._C_SOURCE`` plus a small ``main()`` harness with
``cc -fsanitize=address,undefined``. For each fixture dump the harness
copies every prefix of the file (every truncation offset) into a buffer of
exactly that length and runs ``frame_scan`` (sampling on) and
``decode_scan`` over it. The fixtures cover every script compression type,
CompactSize group counts, and hand-made malformed records (oversized
script lengths and varints, a group count of 2^63 or more, a header that
claims more coins than the body holds, and a vout, height or amount past
the signed 64-bit schema). At full length, each malformed case must end in
the return codes it names: a clean decode of a malformed record fails the
check.

Usage: python tools/check_native_sanitize.py

Exits 1 on any sanitizer report or harness failure, 0 when every replay is
clean. Too slow for tier-1 (one sanitized build plus a few seconds of
replays); run it after changing the C source.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from utxo_to_parquet_spark.kernels.amount import compress_amount  # noqa: E402
from utxo_to_parquet_spark.kernels.header import HEADER_LEN, build_header  # noqa: E402
from utxo_to_parquet_spark.kernels.varint import write_core_varint  # noqa: E402
from utxo_to_parquet_spark.sources.native import (  # noqa: E402
    _C_SOURCE,
    AMOUNT,
    COUNT,
    HEIGHT,
    TRUNCATED,
    VOUT,
    ZERO_COINS,
)
from utxo_to_parquet_spark.sources.utxo_dump import write_utxo_dump  # noqa: E402

HARNESS = r"""
#include <stdio.h>
#include <stdlib.h>
#include <string.h>

/* harness <dump> <n_records> <chunk_rows> <sample_every>: frame and
 * decode every prefix of the file, each in a buffer of its exact length */
int main(int argc, char **argv)
{
    if (argc != 5) return 2;
    FILE *fh = fopen(argv[1], "rb");
    if (!fh) return 2;
    fseek(fh, 0, SEEK_END);
    long size = ftell(fh);
    fseek(fh, 0, SEEK_SET);
    uint8_t *file = malloc(size);
    if (fread(file, 1, size, fh) != (size_t)size) return 2;
    fclose(fh);
    long n = atol(argv[2]), chunk = atol(argv[3]), every = atol(argv[4]);
    long max_splits = n / chunk + 2, max_samples = (n + every - 1) / every;
    long *off = malloc(max_splits * sizeof(long)), *txo = malloc(max_splits * sizeof(long));
    long *coins = malloc(max_splits * sizeof(long)), *rows = malloc(max_splits * sizeof(long));
    uint8_t *sample = malloc(7 * max_samples + 1);
    int64_t *vout = malloc(n * 8), *height = malloc(n * 8), *amount = malloc(n * 8);
    int64_t *exc_off = malloc(n * 8);
    uint8_t *coinbase = malloc(n), *exc_parity = malloc(n), *txhex = malloc(64 * n);
    int32_t *script_off = malloc((n + 1) * 4);
    uint8_t txid0[32] = {0};
    long frame_rc = 0, decode_rc = 0;
    for (long len = 0; len <= size; len++) {
        uint8_t *d = malloc(len ? len : 1);
        memcpy(d, file, len);
        long cap = 3 * len + 256;
        uint8_t *script_buf = malloc(cap);
        frame_rc = frame_scan(d, len, HEADER, n, chunk, off, txo, coins, rows,
                              max_splits, every, sample, max_samples);
        decode_rc = decode_scan(d, len, HEADER, 0, txid0, n, vout, height, coinbase,
                                amount, script_off, script_buf, cap, txhex,
                                exc_off, exc_parity);
        free(script_buf);
        free(d);
    }
    printf("%ld %ld\n", frame_rc, decode_rc);
    return 0;
}
"""

# secp256k1 generator point and its negation, uncompressed (types 4 and 5)
_GX = 0x79BE667EF9DCBBAC55A06295CE870B07029BFCDB2DCE28D959F2815B16F81798
_GY = 0x483ADA7726A3C4655DA4FBFC0E1108A8FD17B448A68554199C47D08FFB10D4B8
_P = 2**256 - 2**32 - 977


def _p2pk_uncompressed(y: int) -> bytes:
    return b"\x41\x04" + _GX.to_bytes(32, "big") + y.to_bytes(32, "big") + b"\xac"


SCRIPTS = [
    b"\x76\xa9\x14" + bytes(range(20)) + b"\x88\xac",  # type 0
    b"\xa9\x14" + bytes(range(20, 40)) + b"\x87",  # type 1
    b"\x21\x02" + bytes(range(32)) + b"\xac",  # type 2
    b"\x21\x03" + bytes(range(32, 64)) + b"\xac",  # type 3
    _p2pk_uncompressed(_GY),  # type 4 or 5
    _p2pk_uncompressed(_P - _GY),  # the other parity
    b"",  # raw scripts, shorter and longer than a prefix
    b"\x6a",
    b"\x51\x52\x53\x54\x55\x56",
    b"\x00\x14" + bytes(20),
    bytes(range(90)),
]


def _valid_rows():
    rows = []
    for k, script in enumerate(SCRIPTS):
        txid = bytes([k + 1]) * 32
        # one single-coin group and one three-coin group per script type
        rows.append((txid, 0, 100 + k, k % 2 == 0, 5_000 * k, script))
        for v in range(3):
            rows.append((bytes([k + 101]) * 32, v, 2**40 + v, False, 2_100_000_000_000_000, script))
    # a group of 253 coins: the count takes the 3-byte CompactSize form
    rows += [(b"\xee" * 32, v, 7, False, 1, b"") for v in range(253)]
    return rows


FRAMED = 1  # one split


def _malformed() -> dict[str, tuple[bytes, int, int, int]]:
    """name -> (file bytes, n_records to frame, then the return codes of
    frame_scan and decode_scan at full length)."""
    rec = b"\x00\x00\x00"  # vout 0, code 0, amount 0
    txid = b"\x42" * 32
    return {
        # script lengths past the body: one that wraps a signed length
        # to -200, one far past 2^64
        "wrapping_script_len": (
            build_header(2) + txid + b"\x02" + rec + write_core_varint(2**64 - 194) + rec + b"\x06", 2,
            TRUNCATED, TRUNCATED,
        ),
        "huge_script_len": (
            build_header(1) + txid + b"\x01" + rec + b"\xff" * 9 + b"\x7f" + b"\x00" * 8, 1, TRUNCATED, TRUNCATED
        ),
        # core varints longer than 64 bits in the height code and the
        # amount: framing skips them, decoding rejects the height
        "long_varints": (
            build_header(1) + txid + b"\x01\x00" + b"\xff" * 12 + b"\x00" + b"\x80" * 12 + b"\x00\x06", 1,
            FRAMED, HEIGHT,
        ),
        # group counts of 2^63 and more, and zero
        "count_2p63": (build_header(2) + txid + b"\xff" + b"\x00" * 7 + b"\x80" + rec + b"\x06", 2, COUNT, COUNT),
        "count_max": (build_header(2) + txid + b"\xff" + b"\xff" * 8 + rec + b"\x06", 2, COUNT, COUNT),
        "count_zero": (build_header(1) + txid + b"\x00" + rec + b"\x06", 1, ZERO_COINS, ZERO_COINS),
        # a vout in the 9-byte form at the very end of the body: the
        # decoder checks its value before it reads on
        "vout_9": (build_header(1) + txid + b"\x01\xff" + b"\xff" * 8, 1, TRUNCATED, VOUT),
        # values past the signed 64-bit schema: vout 2^64-1, an amount
        # that decompresses past 2^63-1, a compressed amount past 2^64
        "vout_max": (build_header(1) + txid + b"\x01\xff" + b"\xff" * 8 + b"\x00\x00\x06", 1, FRAMED, VOUT),
        "amount_over": (
            build_header(1) + txid + b"\x01\x00\x00" + write_core_varint(compress_amount(93 * 10**17)) + b"\x06", 1,
            FRAMED, AMOUNT,
        ),
        "amount_varint": (
            build_header(1) + txid + b"\x01\x00\x00" + write_core_varint(2**64 + 5) + b"\x06", 1, FRAMED, AMOUNT
        ),
    }


def main() -> int:
    with tempfile.TemporaryDirectory(prefix="native_sanitize_") as work:
        return _run(work)


def _run(work: str) -> int:
    src = os.path.join(work, "harness.c")
    exe = os.path.join(work, "harness")
    with open(src, "w") as fh:
        fh.write(f"#define HEADER {HEADER_LEN}L\n" + _C_SOURCE + HARNESS)
    build = subprocess.run(
        ["cc", "-O1", "-g", "-fno-omit-frame-pointer", "-fsanitize=address,undefined",
         "-fno-sanitize-recover=all", "-o", exe, src],
        capture_output=True, text=True,
    )
    if build.returncode != 0:
        print(build.stderr, file=sys.stderr)
        return 1

    rows = _valid_rows()
    cases = []
    valid = os.path.join(work, "valid.dump")
    write_utxo_dump(valid, rows)
    cases.append(("valid", valid, len(rows), None))
    # a header that claims more coins than the body holds
    with open(valid, "rb") as fh:
        body = fh.read()[HEADER_LEN:]
    over = os.path.join(work, "overcount.dump")
    with open(over, "wb") as fh:
        fh.write(build_header(len(rows) + 5) + body)
    cases.append(("overcount", over, len(rows) + 5, (TRUNCATED, TRUNCATED)))
    for name, (data, n, frame_rc, decode_rc) in _malformed().items():
        path = os.path.join(work, name + ".dump")
        with open(path, "wb") as fh:
            fh.write(data)
        cases.append((name, path, n, (frame_rc, decode_rc)))

    env = dict(os.environ, ASAN_OPTIONS="detect_leaks=0", UBSAN_OPTIONS="print_stacktrace=1")
    failed = 0
    for name, path, n, expect in cases:
        for chunk, every in ((2, 1), (5, 3)):
            r = subprocess.run([exe, path, str(n), str(chunk), str(every)], capture_output=True, text=True, env=env)
            report = "AddressSanitizer" in r.stderr or "runtime error" in r.stderr
            codes = r.stdout.split()
            bad = r.returncode != 0 or report or len(codes) != 2
            if not bad and expect is None:
                # the untruncated valid dump must frame and decode cleanly
                bad = int(codes[0]) <= 0 or int(codes[1]) < 0
            elif not bad:
                bad = (int(codes[0]), int(codes[1])) != expect
            print(f"{name:16s} chunk={chunk} sample_every={every} size={os.path.getsize(path):6d} "
                  f"full-length rc={' '.join(codes) or '-'} {'FAIL' if bad else 'clean'}")
            if bad:
                failed += 1
                print(r.stderr[-4000:], file=sys.stderr)
    print(f"{len(cases) * 2 - failed}/{len(cases) * 2} replays clean")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
