"""Two varint codecs used by the ``dumptxoutset`` format.

Bitcoin Core's serializer uses TWO different variable-length integer
encodings in the same stream (reference: /root/reference/src/main.rs:44-59
and :224,227):

1. **Core varint** ("VARINT" in Bitcoin Core's serialize.h): MSB-base-128,
   big-endian group order, with a +1 applied for every continuation byte.
   Used for the coin's packed code (height/coinbase), the compressed
   amount, and the script-length prefix.

2. **Consensus VarInt** (the P2P "CompactSize"): 1/3/5/9-byte
   little-endian. Used for the per-txid coin count and the vout index.

Both are implemented against a ``memoryview``+offset cursor so the
partition decoder can run without per-byte object allocation.
"""

from __future__ import annotations


def read_core_varint(buf, pos: int) -> tuple[int, int]:
    """Decode a Bitcoin-Core varint at ``buf[pos:]`` → (value, new_pos).

    Semantics match /root/reference/src/main.rs:45-59: for each byte,
    ``n = (n << 7) | (b & 0x7F)``; if the continuation bit is set,
    ``n += 1`` before consuming the next byte.
    """
    n = 0
    while True:
        b = buf[pos]
        pos += 1
        n = (n << 7) | (b & 0x7F)
        if b & 0x80:
            n += 1
        else:
            return n, pos


def write_core_varint(n: int) -> bytes:
    """Encode ``n`` in Bitcoin Core varint form (inverse of read_core_varint).

    Mirrors Bitcoin Core's ``WriteVarInt``: emit base-128 groups high-first;
    every non-final group gets the high bit and the value is decremented by
    one per level before shifting.
    """
    if n < 0:
        raise ValueError("core varint encodes unsigned values only")
    out = bytearray()
    while True:
        out.append((n & 0x7F) | (0x80 if out else 0x00))
        if n <= 0x7F:
            break
        n = (n >> 7) - 1
    return bytes(reversed(out))


def read_consensus_varint(buf, pos: int) -> tuple[int, int]:
    """Decode a P2P CompactSize at ``buf[pos:]`` → (value, new_pos).

    Raises ValueError if its width runs past the end of ``buf``."""
    b = buf[pos]
    pos += 1
    if b < 0xFD:
        return b, pos
    width = 2 if b == 0xFD else 4 if b == 0xFE else 8
    if pos + width > len(buf):
        raise ValueError("truncated CompactSize")
    return int.from_bytes(buf[pos : pos + width], "little"), pos + width


def write_consensus_varint(n: int) -> bytes:
    """Encode a P2P CompactSize."""
    if n < 0:
        raise ValueError("consensus varint encodes unsigned values only")
    if n < 0xFD:
        return bytes([n])
    if n <= 0xFFFF:
        return b"\xfd" + n.to_bytes(2, "little")
    if n <= 0xFFFFFFFF:
        return b"\xfe" + n.to_bytes(4, "little")
    return b"\xff" + n.to_bytes(8, "little")
