"""Gorilla XOR chunk codec — the Prometheus TSDB sample-compression format.

Bit-exact re-implementation of the public ``prometheus/tsdb/chunkenc``
XOR chunk (xor.go), which itself implements Facebook's Gorilla encoding
(Pelkonen et al., VLDB 2015, §4.1): delta-of-delta timestamps with
prefix-coded bit widths, XOR'd float values with leading/trailing-zero
windows. This is what a Prometheus remote-read STREAMED_XOR_CHUNKS
response carries in ``Chunk.data`` — the reference ignores that protocol
entirely (``handlers/prom.go:184-186`` drops read hints and always
answers sampled), so this is beyond-reference, spec-first surface.

Layout (xor.go):

  [uint16 BE sample count][bitstream]
  sample 0:  timestamp as signed varint (zigzag), value as raw 64 bits
  sample 1:  tDelta as unsigned varint, value XOR-coded
  sample n:  dod = tDelta_n - tDelta_{n-1} prefix-coded:
               '0'                       dod == 0
               '10'   + 14 bits          dod ∈ [-8191, 8192]
               '110'  + 17 bits          dod ∈ [-65535, 65536]
               '1110' + 20 bits          dod ∈ [-524287, 524288]
               '1111' + 64 bits          otherwise
             value XOR-coded:
               '0'                       xor == 0
               '10'   + reuse window     leading/trailing fit the previous
               '11'   + 5b leading + 6b sigbits (64 stored as 0) + sigbits

Bits are MSB-first within bytes, exactly like Prometheus's bstream.
Varints are the Go ``binary.PutVarint``/``PutUvarint`` byte forms written
through the (possibly unaligned) bit writer.
"""

from __future__ import annotations

import struct
from typing import Iterable, Sequence

_MASK64 = (1 << 64) - 1

# Chunk.type enum in the public prometheus/prompb types.proto
CHUNK_TYPE_XOR = 1


class BitWriter:
    """MSB-first bit writer (prometheus/tsdb/chunkenc/bstream.go)."""

    def __init__(self) -> None:
        self._bytes = bytearray()
        self._acc = 0  # pending sub-byte bits, MSB side
        self._nacc = 0

    def write_bit(self, bit: int) -> None:
        self.write_bits(1 if bit else 0, 1)

    def write_bits(self, value: int, nbits: int) -> None:
        # accumulate then flush whole bytes — constant work per call
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nacc += nbits
        while self._nacc >= 8:
            self._nacc -= 8
            self._bytes.append((self._acc >> self._nacc) & 0xFF)
        self._acc &= (1 << self._nacc) - 1

    def write_byte(self, b: int) -> None:
        self.write_bits(b, 8)

    def write_uvarint(self, u: int) -> None:
        while True:
            if u >= 0x80:
                self.write_byte((u & 0x7F) | 0x80)
                u >>= 7
            else:
                self.write_byte(u)
                return

    def write_varint(self, n: int) -> None:
        # Go binary.PutVarint: zigzag then uvarint. Python's arithmetic
        # shift makes the two's-complement formula exact for negatives:
        # n >> 63 is -1, and x ^ -1 == ~x on arbitrary-precision ints.
        self.write_uvarint((n << 1) ^ (n >> 63))

    def bytes(self) -> bytes:
        if self._nacc:
            return bytes(self._bytes) + bytes(
                [(self._acc << (8 - self._nacc)) & 0xFF]
            )
        return bytes(self._bytes)


class BitReader:
    def __init__(self, data: bytes) -> None:
        self._data = data
        self._nbits = len(data) * 8
        self._pos = 0  # bit position

    def read_bit(self) -> int:
        pos = self._pos
        if pos >= self._nbits:
            raise ValueError("chunkenc: bitstream exhausted")
        self._pos = pos + 1
        return (self._data[pos >> 3] >> (7 - (pos & 7))) & 1

    def read_bits(self, nbits: int) -> int:
        # windowed extraction: one int.from_bytes over the covering byte
        # span + shift/mask — constant work per call instead of per bit
        pos = self._pos
        end = pos + nbits
        if end > self._nbits:
            raise ValueError("chunkenc: bitstream exhausted")
        byte_start = pos >> 3
        byte_end = (end + 7) >> 3
        window = int.from_bytes(self._data[byte_start:byte_end], "big")
        tail = byte_end * 8 - end
        self._pos = end
        return (window >> tail) & ((1 << nbits) - 1)

    def read_byte(self) -> int:
        return self.read_bits(8)

    def read_uvarint(self) -> int:
        out = 0
        shift = 0
        while True:
            b = self.read_byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7
            if shift > 70:
                raise ValueError("chunkenc: uvarint too long")

    def read_varint(self) -> int:
        u = self.read_uvarint()
        return (u >> 1) ^ -(u & 1)


def _float_bits(v: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", v))[0]


def _bits_float(b: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", b & _MASK64))[0]


def _clz64(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _ctz64(x: int) -> int:
    return (x & -x).bit_length() - 1 if x else 64


def _bit_range(x: int, nbits: int) -> bool:
    """xor.go bitRange: does x fit nbits as Prometheus defines it
    (asymmetric: [-(2^(n-1))+1, 2^(n-1)])."""
    return -((1 << (nbits - 1)) - 1) <= x <= (1 << (nbits - 1))


def _xor_write(w: BitWriter, value: float, prev_bits: int, leading: int, trailing: int):
    """xor.go xorWrite. Returns (new_leading, new_trailing)."""
    cur = _float_bits(value)
    delta = cur ^ prev_bits
    if delta == 0:
        w.write_bit(0)
        return leading, trailing
    w.write_bit(1)
    new_leading = min(_clz64(delta), 31)  # clamped: 5-bit field
    new_trailing = _ctz64(delta)
    # reuse the previous window when the xor fits inside it
    if leading != 0xFF and new_leading >= leading and new_trailing >= trailing:
        w.write_bit(0)
        w.write_bits(delta >> trailing, 64 - leading - trailing)
        return leading, trailing
    w.write_bit(1)
    w.write_bits(new_leading, 5)
    sigbits = 64 - new_leading - new_trailing
    w.write_bits(sigbits & 0x3F, 6)  # 64 encodes as 0
    w.write_bits(delta >> new_trailing, sigbits)
    return new_leading, new_trailing


def _xor_read(r: BitReader, prev_bits: int, leading: int, trailing: int):
    """Returns (value_bits, leading, trailing)."""
    if r.read_bit() == 0:
        return prev_bits, leading, trailing
    if r.read_bit() == 0:
        sigbits = 64 - leading - trailing
    else:
        leading = r.read_bits(5)
        sigbits = r.read_bits(6)
        if sigbits == 0:
            sigbits = 64
        trailing = 64 - leading - sigbits
    bits = r.read_bits(sigbits)
    return prev_bits ^ (bits << trailing), leading, trailing


def encode_xor_chunk(samples: Sequence[tuple[int, float]]) -> bytes:
    """Encode (timestamp_ms, value) pairs — MUST be sorted by timestamp —
    into one XOR chunk, byte-compatible with prometheus/tsdb/chunkenc."""
    if len(samples) > 0xFFFF:
        raise ValueError("chunkenc: a chunk holds at most 65535 samples")
    w = BitWriter()
    prev_t = 0
    prev_delta = 0
    prev_bits = 0
    leading, trailing = 0xFF, 0
    for i, (t, v) in enumerate(samples):
        t = int(t)
        if i == 0:
            w.write_varint(t)
            w.write_bits(_float_bits(v), 64)
            prev_bits = _float_bits(v)
        elif i == 1:
            delta = t - prev_t
            if delta < 0:
                raise ValueError("chunkenc: timestamps must be sorted")
            w.write_uvarint(delta)
            leading, trailing = _xor_write(w, v, prev_bits, leading, trailing)
            prev_bits = _float_bits(v)
            prev_delta = delta
        else:
            delta = t - prev_t
            if delta < 0:
                raise ValueError("chunkenc: timestamps must be sorted")
            dod = delta - prev_delta
            if dod == 0:
                w.write_bit(0)
            elif _bit_range(dod, 14):
                w.write_bits(0b10, 2)
                w.write_bits(dod, 14)
            elif _bit_range(dod, 17):
                w.write_bits(0b110, 3)
                w.write_bits(dod, 17)
            elif _bit_range(dod, 20):
                w.write_bits(0b1110, 4)
                w.write_bits(dod, 20)
            else:
                w.write_bits(0b1111, 4)
                w.write_bits(dod, 64)
            leading, trailing = _xor_write(w, v, prev_bits, leading, trailing)
            prev_bits = _float_bits(v)
            prev_delta = delta
        prev_t = t
    return struct.pack(">H", len(samples)) + w.bytes()


def _sign_extend(u: int, nbits: int) -> int:
    """Undo the asymmetric-bucket encoding (xor.go readBits consumers):
    upstream negates only when bits > 1<<(sz-1), because the bucket is
    [-(2^(n-1))+1, 2^(n-1)] — the value 2^(n-1) itself is POSITIVE.
    Plain two's-complement (negate at >=) would round-trip a dod of
    exactly 8192/65536/524288 to its negative.  The 64-bit escape
    bucket is symmetric two's complement (upstream writes int64 raw)."""
    if nbits == 64:
        if u >> 63:
            return u - (1 << 64)
        return u
    if u > (1 << (nbits - 1)):
        return u - (1 << nbits)
    return u


def decode_xor_chunk(data: bytes) -> list[tuple[int, float]]:
    """Decode one XOR chunk back to (timestamp_ms, value) pairs."""
    if len(data) < 2:
        raise ValueError("chunkenc: truncated chunk header")
    (n,) = struct.unpack(">H", data[:2])
    r = BitReader(data[2:])
    out: list[tuple[int, float]] = []
    t = 0
    delta = 0
    bits = 0
    leading, trailing = 0, 0
    for i in range(n):
        if i == 0:
            t = r.read_varint()
            bits = r.read_bits(64)
        elif i == 1:
            delta = r.read_uvarint()
            t += delta
            bits, leading, trailing = _xor_read(r, bits, leading, trailing)
        else:
            # prefix: count leading 1-bits, stopping at the first 0 or at 4
            code = 0
            while code < 4 and r.read_bit():
                code += 1
            if code == 0:
                dod = 0
            elif code == 1:
                dod = _sign_extend(r.read_bits(14), 14)
            elif code == 2:
                dod = _sign_extend(r.read_bits(17), 17)
            elif code == 3:
                dod = _sign_extend(r.read_bits(20), 20)
            else:
                dod = _sign_extend(r.read_bits(64), 64)
            delta += dod
            t += delta
            bits, leading, trailing = _xor_read(r, bits, leading, trailing)
        out.append((t, _bits_float(bits)))
    return out


# --------------------------------------------------------------- framing
# Streamed remote-read frames (public prometheus/storage/remote/chunked.go):
# each ChunkedReadResponse message is sent as
#   uvarint(len(msg)) + crc32c(msg) as 4 bytes BE + msg
# with NO snappy layer — the chunk payloads are already XOR-compressed.

_CRC32C_POLY = 0x82F63B78  # Castagnoli, reflected


def _crc32c_table() -> list[int]:
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ _CRC32C_POLY if crc & 1 else crc >> 1
        table.append(crc)
    return table


_CRC_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _uvarint_bytes(u: int) -> bytes:
    out = bytearray()
    while True:
        if u >= 0x80:
            out.append((u & 0x7F) | 0x80)
            u >>= 7
        else:
            out.append(u)
            return bytes(out)


def frame_message(msg: bytes) -> bytes:
    """One streamed-read frame: uvarint length + CRC32C (BE) + payload."""
    return _uvarint_bytes(len(msg)) + struct.pack(">I", crc32c(msg)) + msg


def iter_frames(buf: bytes):
    """Yield the payloads of a concatenated frame stream, verifying each
    CRC. Raises ValueError on truncation or checksum mismatch."""
    pos = 0
    n = len(buf)
    while pos < n:
        size = 0
        shift = 0
        while True:
            if pos >= n:
                raise ValueError("chunked frame: truncated length")
            b = buf[pos]
            pos += 1
            size |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 70:
                raise ValueError("chunked frame: length varint too long")
        if pos + 4 + size > n:
            raise ValueError("chunked frame: truncated body")
        (want,) = struct.unpack(">I", buf[pos : pos + 4])
        payload = buf[pos + 4 : pos + 4 + size]
        if crc32c(payload) != want:
            raise ValueError("chunked frame: CRC mismatch")
        pos += 4 + size
        yield payload


def chunk_samples(
    samples: Iterable[tuple[int, float]], max_samples: int = 120
) -> list[tuple[int, int, bytes]]:
    """Cut a sorted sample run into XOR chunks of at most ``max_samples``
    (Prometheus's head cuts at 120 — two hours of 1-minute scrapes; the
    Gorilla paper's compression ratios hold at that size). Returns
    (min_time_ms, max_time_ms, chunk_bytes) triples."""
    buf: list[tuple[int, float]] = []
    out: list[tuple[int, int, bytes]] = []
    for s in samples:
        buf.append(s)
        if len(buf) >= max_samples:
            out.append((buf[0][0], buf[-1][0], encode_xor_chunk(buf)))
            buf = []
    if buf:
        out.append((buf[0][0], buf[-1][0], encode_xor_chunk(buf)))
    return out


# ------------------------------------------------- native-histogram chunks
# The public prometheus/tsdb/chunkenc native-histogram chunk formats
# (histogram.go for integer histograms, floathistogram.go for float
# histograms, varbit.go for the adaptive-width integer coding, plus the
# layout metadata helpers). These are what a streamed remote-read
# response carries for native-histogram series (Chunk.type HISTOGRAM=2 /
# FLOAT_HISTOGRAM=3 in prompb types.proto) — entirely beyond the
# reference, which predates native histograms.
#
# Chunk layout (both kinds):
#   byte 0-1   uint16 BE sample count
#   byte 2     counter-reset header: top 2 bits
#              00 unknown / 01 not-reset / 10 counter-reset / 11 gauge
#   byte 3+    bitstream:
#     layout metadata (once, with the first sample):
#       zero threshold   1 byte for 0 (0x00) or powers of two
#                        2^(exp-1), exp in [-242, 11] (byte exp+243);
#                        else 0xFF + raw 64-bit float
#       schema           varbit int
#       positive spans   varbit uint count, then per span
#                        varbit uint LENGTH, varbit int OFFSET
#       negative spans   same
#       custom values    only when schema == -53 (NHCB): varbit uint
#                        count then raw 64-bit floats (upstream packs
#                        typical decimal bounds tighter — documented
#                        deviation, flagged in decode by position only)
#     integer chunk samples (histogram.go):
#       s0   t varint; count, zero_count uvarint; sum raw 64 bits;
#            positive then negative bucket lists in the SAME intra-sample
#            delta form the prompb wire uses, each value a varint
#       s1   tDelta varbit uint; count/zero_count deltas varbit int;
#            sum XOR-coded; per-bucket delta-of-the-delta-form varbit int
#       sN   t dod varbit int; count/zero_count delta-of-delta varbit
#            int; sum XOR; buckets as in s1
#     float chunk samples (floathistogram.go):
#       s0   t varint; count, zero_count, sum, then every bucket's
#            ABSOLUTE count as raw 64-bit floats
#       s1   tDelta varbit uint; every float value XOR-coded against s0,
#            each value tracking its own leading/trailing window
#       sN   t dod varbit int; floats XOR-coded against the previous
#            sample
#
# A single chunk requires one fixed layout: same schema, zero threshold
# and custom values, and one bucket index set (the union over the
# samples; absent buckets encode as zero counts, exactly how upstream
# recodes a chunk when a new bucket appears mid-chunk).

CHUNK_TYPE_HISTOGRAM = 2
CHUNK_TYPE_FLOAT_HISTOGRAM = 3

# counter-reset header values (histogram.go CounterResetHeader)
CR_UNKNOWN = 0b00000000
CR_NOT_RESET = 0b01000000
CR_RESET = 0b10000000
CR_GAUGE = 0b11000000

_CUSTOM_BUCKETS_SCHEMA = -53


def _put_varbit_int(w: BitWriter, val: int) -> None:
    """varbit.go putVarbitInt: prefix-coded bit buckets 0/3/6/9/12/18/25/
    56/64, each asymmetric ([-(2^(n-1))+1, 2^(n-1)]) except the 64-bit
    escape (plain two's complement)."""
    if val == 0:
        w.write_bit(0)
    elif _bit_range(val, 3):
        w.write_bits(0b10, 2)
        w.write_bits(val, 3)
    elif _bit_range(val, 6):
        w.write_bits(0b110, 3)
        w.write_bits(val, 6)
    elif _bit_range(val, 9):
        w.write_bits(0b1110, 4)
        w.write_bits(val, 9)
    elif _bit_range(val, 12):
        w.write_bits(0b11110, 5)
        w.write_bits(val, 12)
    elif _bit_range(val, 18):
        w.write_bits(0b111110, 6)
        w.write_bits(val, 18)
    elif _bit_range(val, 25):
        w.write_bits(0b1111110, 7)
        w.write_bits(val, 25)
    elif _bit_range(val, 56):
        w.write_bits(0b11111110, 8)
        w.write_bits(val, 56)
    else:
        w.write_bits(0b11111111, 8)
        w.write_bits(val, 64)


def _read_varbit_int(r: BitReader) -> int:
    code = 0
    while code < 8 and r.read_bit():
        code += 1
    nbits = (0, 3, 6, 9, 12, 18, 25, 56, 64)[code]
    if nbits == 0:
        return 0
    return _sign_extend(r.read_bits(nbits), nbits)


def _put_varbit_uint(w: BitWriter, val: int) -> None:
    """varbit.go putVarbitUint: same prefix buckets, unsigned ranges."""
    if val < 0:
        raise ValueError("chunkenc: varbit uint is unsigned")
    if val == 0:
        w.write_bit(0)
    elif val < 1 << 3:
        w.write_bits(0b10, 2)
        w.write_bits(val, 3)
    elif val < 1 << 6:
        w.write_bits(0b110, 3)
        w.write_bits(val, 6)
    elif val < 1 << 9:
        w.write_bits(0b1110, 4)
        w.write_bits(val, 9)
    elif val < 1 << 12:
        w.write_bits(0b11110, 5)
        w.write_bits(val, 12)
    elif val < 1 << 18:
        w.write_bits(0b111110, 6)
        w.write_bits(val, 18)
    elif val < 1 << 25:
        w.write_bits(0b1111110, 7)
        w.write_bits(val, 25)
    elif val < 1 << 56:
        w.write_bits(0b11111110, 8)
        w.write_bits(val, 56)
    else:
        w.write_bits(0b11111111, 8)
        w.write_bits(val, 64)


def _read_varbit_uint(r: BitReader) -> int:
    code = 0
    while code < 8 and r.read_bit():
        code += 1
    nbits = (0, 3, 6, 9, 12, 18, 25, 56, 64)[code]
    return r.read_bits(nbits) if nbits else 0


def _put_zero_threshold(w: BitWriter, threshold: float) -> None:
    """histogram_meta putZeroThreshold: 0 → byte 0; powers of two
    2^(exp-1) with exp in [-242, 11] → byte exp+243; else 0xFF + raw."""
    import math as _m

    if threshold == 0:
        w.write_byte(0)
        return
    frac, exp = _m.frexp(threshold)
    if frac == 0.5 and -242 <= exp <= 11:
        w.write_byte(exp + 243)
        return
    w.write_byte(0xFF)
    w.write_bits(_float_bits(threshold), 64)


def _read_zero_threshold(r: BitReader) -> float:
    import math as _m

    b = r.read_byte()
    if b == 0:
        return 0.0
    if b == 0xFF:
        return _bits_float(r.read_bits(64))
    return _m.ldexp(0.5, b - 243)


def _put_layout_spans(w: BitWriter, spans: Sequence[tuple[int, int]]) -> None:
    _put_varbit_uint(w, len(spans))
    for offset, length in spans:
        _put_varbit_uint(w, length)
        _put_varbit_int(w, offset)


def _read_layout_spans(r: BitReader) -> list[tuple[int, int]]:
    n = _read_varbit_uint(r)
    out = []
    for _ in range(n):
        length = _read_varbit_uint(r)
        offset = _read_varbit_int(r)
        out.append((offset, length))
    return out


def _union_layout(hists) -> tuple[list[int], list[int]]:
    """Sorted union of the positive / negative bucket indexes across the
    chunk's samples — the one fixed layout every sample is recoded onto
    (absent buckets become explicit zero counts)."""
    pos: set[int] = set()
    neg: set[int] = set()
    for h in hists:
        pos.update(i for i, _ in h.positive)
        neg.update(i for i, _ in h.negative)
    return sorted(pos), sorted(neg)


def _spans_for_indexes(indexes: list[int]) -> list[tuple[int, int]]:
    from promhouse_spark.edge.prompb import _spans_from_buckets

    return _spans_from_buckets([(i, 0.0) for i in indexes])


def _counts_on_layout(pairs, indexes: list[int]) -> list[float]:
    m = dict(pairs)
    return [float(m.get(i, 0.0)) for i in indexes]


def _deltas(values: list[int]) -> list[int]:
    """The prompb/TSDB intra-sample delta form: first absolute, then
    successive differences."""
    out = []
    prev = 0
    for v in values:
        out.append(v - prev)
        prev = v
    return out


def _check_chunk_layout(hists) -> None:
    h0 = hists[0]
    for h in hists[1:]:
        if (
            h.schema != h0.schema
            or _float_bits(h.zero_threshold) != _float_bits(h0.zero_threshold)
            or list(h.custom_values) != list(h0.custom_values)
        ):
            raise ValueError(
                "chunkenc: one histogram chunk holds one layout "
                "(schema / zero threshold / custom values)"
            )


def encode_histogram_chunk(hists, counter_reset: int = CR_UNKNOWN) -> bytes:
    """Encode integer native histograms (models.NativeHistogram with
    integral counts) into one HISTOGRAM (type 2) chunk. Samples must be
    timestamp-sorted and share one layout."""
    if len(hists) > 0xFFFF:
        raise ValueError("chunkenc: a chunk holds at most 65535 samples")
    out_head = struct.pack(">H", len(hists)) + bytes([counter_reset & 0xC0])
    if not hists:
        return out_head
    _check_chunk_layout(hists)
    h0 = hists[0]
    pos_idx, neg_idx = _union_layout(hists)
    w = BitWriter()
    _put_zero_threshold(w, h0.zero_threshold)
    _put_varbit_int(w, h0.schema)
    _put_layout_spans(w, _spans_for_indexes(pos_idx))
    _put_layout_spans(w, _spans_for_indexes(neg_idx))
    if h0.schema == _CUSTOM_BUCKETS_SCHEMA:
        _put_varbit_uint(w, len(h0.custom_values))
        for cv in h0.custom_values:
            w.write_bits(_float_bits(cv), 64)

    def int_counts(h, indexes, pairs):
        vals = _counts_on_layout(pairs, indexes)
        ints = [int(v) for v in vals]
        if any(iv != v for iv, v in zip(ints, vals)):
            raise ValueError(
                "chunkenc: non-integral counts need the float histogram chunk"
            )
        return ints

    prev_t = prev_tdelta = 0
    prev_cnt = prev_zcnt = 0
    prev_cnt_delta = prev_zcnt_delta = 0
    prev_sum_bits = 0
    leading, trailing = 0xFF, 0
    prev_pos: list[int] = []
    prev_neg: list[int] = []
    for i, h in enumerate(hists):
        t = int(h.timestamp_ms)
        cnt = int(h.count)
        zcnt = int(h.zero_count)
        if h.count != cnt or h.zero_count != zcnt:
            raise ValueError(
                "chunkenc: non-integral counts need the float histogram chunk"
            )
        pos_d = _deltas(int_counts(h, pos_idx, h.positive))
        neg_d = _deltas(int_counts(h, neg_idx, h.negative))
        if i == 0:
            w.write_varint(t)
            w.write_uvarint(cnt)
            w.write_uvarint(zcnt)
            w.write_bits(_float_bits(h.sum), 64)
            for d in pos_d:
                w.write_varint(d)
            for d in neg_d:
                w.write_varint(d)
        else:
            tdelta = t - prev_t
            if tdelta < 0:
                raise ValueError("chunkenc: timestamps must be sorted")
            cnt_delta = cnt - prev_cnt
            zcnt_delta = zcnt - prev_zcnt
            if i == 1:
                _put_varbit_uint(w, tdelta)
                _put_varbit_int(w, cnt_delta)
                _put_varbit_int(w, zcnt_delta)
            else:
                _put_varbit_int(w, tdelta - prev_tdelta)
                _put_varbit_int(w, cnt_delta - prev_cnt_delta)
                _put_varbit_int(w, zcnt_delta - prev_zcnt_delta)
            leading, trailing = _xor_write(
                w, h.sum, prev_sum_bits, leading, trailing
            )
            for d, pd in zip(pos_d, prev_pos):
                _put_varbit_int(w, d - pd)
            for d, pd in zip(neg_d, prev_neg):
                _put_varbit_int(w, d - pd)
            prev_tdelta = tdelta
            prev_cnt_delta = cnt_delta
            prev_zcnt_delta = zcnt_delta
        prev_t, prev_cnt, prev_zcnt = t, cnt, zcnt
        prev_sum_bits = _float_bits(h.sum)
        prev_pos, prev_neg = pos_d, neg_d
    return out_head + w.bytes()


def decode_histogram_chunk(data: bytes):
    """Decode one HISTOGRAM (type 2) chunk → list of
    models.NativeHistogram (union-layout zero buckets included).
    Returns (histograms, counter_reset_header)."""
    from promhouse_spark.edge.prompb import _expand_spans
    from promhouse_spark.models import NativeHistogram

    if len(data) < 3:
        raise ValueError("chunkenc: truncated histogram chunk header")
    (n,) = struct.unpack(">H", data[:2])
    cr = data[2] & 0xC0
    if n == 0:
        return [], cr
    r = BitReader(data[3:])
    zero_threshold = _read_zero_threshold(r)
    schema = _read_varbit_int(r)
    pos_spans = _read_layout_spans(r)
    neg_spans = _read_layout_spans(r)
    custom_values: list[float] = []
    if schema == _CUSTOM_BUCKETS_SCHEMA:
        n_cv = _read_varbit_uint(r)
        custom_values = [_bits_float(r.read_bits(64)) for _ in range(n_cv)]
    n_pos = sum(length for _, length in pos_spans)
    n_neg = sum(length for _, length in neg_spans)

    out = []
    t = tdelta = 0
    cnt = zcnt = 0
    cnt_delta = zcnt_delta = 0
    sum_bits = 0
    leading, trailing = 0, 0
    pos_d: list[int] = []
    neg_d: list[int] = []
    for i in range(n):
        if i == 0:
            t = r.read_varint()
            cnt = r.read_uvarint()
            zcnt = r.read_uvarint()
            sum_bits = r.read_bits(64)
            pos_d = [r.read_varint() for _ in range(n_pos)]
            neg_d = [r.read_varint() for _ in range(n_neg)]
        else:
            if i == 1:
                tdelta = _read_varbit_uint(r)
                cnt_delta = _read_varbit_int(r)
                zcnt_delta = _read_varbit_int(r)
            else:
                tdelta += _read_varbit_int(r)
                cnt_delta += _read_varbit_int(r)
                zcnt_delta += _read_varbit_int(r)
            t += tdelta
            cnt += cnt_delta
            zcnt += zcnt_delta
            sum_bits, leading, trailing = _xor_read(
                r, sum_bits, leading, trailing
            )
            pos_d = [pd + _read_varbit_int(r) for pd in pos_d]
            neg_d = [nd + _read_varbit_int(r) for nd in neg_d]
        out.append(
            NativeHistogram(
                timestamp_ms=t,
                count=float(cnt),
                sum=_bits_float(sum_bits),
                schema=schema,
                zero_threshold=zero_threshold,
                zero_count=float(zcnt),
                positive=_expand_spans(pos_spans, list(pos_d), []),
                negative=_expand_spans(neg_spans, list(neg_d), []),
                is_float=False,
                custom_values=list(custom_values),
            )
        )
    return out, cr


class _XorState:
    """Per-value XOR window state (floathistogram.go xorValue)."""

    __slots__ = ("bits", "leading", "trailing")

    def __init__(self) -> None:
        self.bits = 0
        self.leading = 0xFF
        self.trailing = 0


def encode_float_histogram_chunk(hists, counter_reset: int = CR_UNKNOWN) -> bytes:
    """Encode float native histograms into one FLOAT_HISTOGRAM (type 3)
    chunk: every count is a float, XOR-coded against the previous sample
    with an independent leading/trailing window per tracked value."""
    if len(hists) > 0xFFFF:
        raise ValueError("chunkenc: a chunk holds at most 65535 samples")
    out_head = struct.pack(">H", len(hists)) + bytes([counter_reset & 0xC0])
    if not hists:
        return out_head
    _check_chunk_layout(hists)
    h0 = hists[0]
    pos_idx, neg_idx = _union_layout(hists)
    w = BitWriter()
    _put_zero_threshold(w, h0.zero_threshold)
    _put_varbit_int(w, h0.schema)
    _put_layout_spans(w, _spans_for_indexes(pos_idx))
    _put_layout_spans(w, _spans_for_indexes(neg_idx))
    if h0.schema == _CUSTOM_BUCKETS_SCHEMA:
        _put_varbit_uint(w, len(h0.custom_values))
        for cv in h0.custom_values:
            w.write_bits(_float_bits(cv), 64)

    n_vals = 3 + len(pos_idx) + len(neg_idx)  # count, zcount, sum, buckets
    states = [_XorState() for _ in range(n_vals)]
    prev_t = prev_tdelta = 0
    for i, h in enumerate(hists):
        t = int(h.timestamp_ms)
        vals = (
            [float(h.count), float(h.zero_count), float(h.sum)]
            + _counts_on_layout(h.positive, pos_idx)
            + _counts_on_layout(h.negative, neg_idx)
        )
        if i == 0:
            w.write_varint(t)
            for v, st in zip(vals, states):
                w.write_bits(_float_bits(v), 64)
                st.bits = _float_bits(v)
        else:
            tdelta = t - prev_t
            if tdelta < 0:
                raise ValueError("chunkenc: timestamps must be sorted")
            if i == 1:
                _put_varbit_uint(w, tdelta)
            else:
                _put_varbit_int(w, tdelta - prev_tdelta)
            for v, st in zip(vals, states):
                st.leading, st.trailing = _xor_write(
                    w, v, st.bits, st.leading, st.trailing
                )
                st.bits = _float_bits(v)
            prev_tdelta = tdelta
        prev_t = t
    return out_head + w.bytes()


def decode_float_histogram_chunk(data: bytes):
    """Decode one FLOAT_HISTOGRAM (type 3) chunk → (list of
    models.NativeHistogram with is_float=True, counter_reset_header)."""
    from promhouse_spark.edge.prompb import _expand_spans
    from promhouse_spark.models import NativeHistogram

    if len(data) < 3:
        raise ValueError("chunkenc: truncated histogram chunk header")
    (n,) = struct.unpack(">H", data[:2])
    cr = data[2] & 0xC0
    if n == 0:
        return [], cr
    r = BitReader(data[3:])
    zero_threshold = _read_zero_threshold(r)
    schema = _read_varbit_int(r)
    pos_spans = _read_layout_spans(r)
    neg_spans = _read_layout_spans(r)
    custom_values: list[float] = []
    if schema == _CUSTOM_BUCKETS_SCHEMA:
        n_cv = _read_varbit_uint(r)
        custom_values = [_bits_float(r.read_bits(64)) for _ in range(n_cv)]
    n_pos = sum(length for _, length in pos_spans)
    n_neg = sum(length for _, length in neg_spans)
    n_vals = 3 + n_pos + n_neg

    out = []
    states = [_XorState() for _ in range(n_vals)]
    for st in states:
        st.leading = 0
    t = tdelta = 0
    for i in range(n):
        if i == 0:
            t = r.read_varint()
            for st in states:
                st.bits = r.read_bits(64)
        else:
            if i == 1:
                tdelta = _read_varbit_uint(r)
            else:
                tdelta += _read_varbit_int(r)
            t += tdelta
            for st in states:
                st.bits, st.leading, st.trailing = _xor_read(
                    r, st.bits, st.leading, st.trailing
                )
        vals = [_bits_float(st.bits) for st in states]
        pos_counts = vals[3 : 3 + n_pos]
        neg_counts = vals[3 + n_pos :]
        out.append(
            NativeHistogram(
                timestamp_ms=t,
                count=vals[0],
                sum=vals[2],
                schema=schema,
                zero_threshold=zero_threshold,
                zero_count=vals[1],
                positive=_expand_spans(pos_spans, [], pos_counts),
                negative=_expand_spans(neg_spans, [], neg_counts),
                is_float=True,
                custom_values=list(custom_values),
            )
        )
    return out, cr


def _is_integral_histogram(h) -> bool:
    return (
        not h.is_float
        and float(h.count) == int(h.count)
        and float(h.zero_count) == int(h.zero_count)
        and all(float(c) == int(c) for _, c in h.positive)
        and all(float(c) == int(c) for _, c in h.negative)
    )


def chunk_native_histograms(hists, max_samples: int = 120):
    """Cut a timestamp-sorted native-histogram run into chunks, the
    upstream head-appender's cut rules re-expressed over a materialized
    run: a new chunk whenever the LAYOUT changes (schema / zero
    threshold / custom values / integer-vs-float class), the total count
    drops (counter reset — the new chunk is stamped CR_RESET), or the
    120-sample capacity fills (continuation chunks stamped
    CR_NOT_RESET). Returns (min_t, max_t, chunk_type, bytes) tuples."""
    out = []
    buf: list = []
    buf_reset = CR_UNKNOWN

    def key(h):
        return (
            h.schema,
            _float_bits(h.zero_threshold),
            tuple(h.custom_values),
            _is_integral_histogram(h),
        )

    def flush(next_reset):
        nonlocal buf, buf_reset
        if buf:
            if _is_integral_histogram(buf[0]):
                data = encode_histogram_chunk(buf, buf_reset)
                ctype = CHUNK_TYPE_HISTOGRAM
            else:
                data = encode_float_histogram_chunk(buf, buf_reset)
                ctype = CHUNK_TYPE_FLOAT_HISTOGRAM
            out.append(
                (buf[0].timestamp_ms, buf[-1].timestamp_ms, ctype, data)
            )
        buf = []
        buf_reset = next_reset

    prev = None
    for h in hists:
        if buf and key(h) != key(buf[0]):
            flush(CR_UNKNOWN)
        elif prev is not None and float(h.count) < float(prev.count):
            flush(CR_RESET)
        elif len(buf) >= max_samples:
            flush(CR_NOT_RESET)
        buf.append(h)
        prev = h
    flush(CR_UNKNOWN)
    return out
