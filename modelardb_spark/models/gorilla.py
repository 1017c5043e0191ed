"""Gorilla XOR float32 compression (lossless).

Wire-compatible with the reference's value compressor
(core/models/FacebookGorillaModelType.java, based on the public
gorilla-tsc layout): one '0' bit for repeats; '10' + significant bits
reusing the previous leading/trailing-zero window; '11' + 5-bit leading
zeros + 6-bit significant-bit count + bits for a new window. Decoder
keeps the `significantBits == 0 -> 32` quirk (reference :204-206) and
the `leadingZeros >= 32 -> 31` encoder clamp (reference :101-103).

The reference never compresses timestamps — they are implicit from
(start, end, interval) after gap-fill — so delta-of-delta timestamp
compression is unnecessary here by the same design; Gorilla covers the
lossless value path.
"""

from __future__ import annotations

import numpy as np



def gorilla_compress(values: np.ndarray) -> bytes:
    """Compress a float32 array to the gorilla bitstream.

    Hot path of the fit cascade (called once per candidate segment):
    XORs and leading/trailing-zero counts are precomputed vectorized
    (bit lengths via exact float64 exponent extraction), and the
    stream accumulates in ONE Python int with a single to_bytes at the
    end — wire-identical to the original BitWriter loop."""
    bits = np.ascontiguousarray(values, dtype=np.float32).view(np.uint32)
    n = bits.size
    if n == 1:
        return int(bits[0]).to_bytes(4, "big")
    xor = (bits[1:] ^ bits[:-1]).astype(np.uint32)
    # frexp exponent == bit_length for positive ints exactly
    bitlen = np.frexp(xor.astype(np.float64))[1]
    nlz = np.minimum(32 - bitlen, 31)  # reference clamp (:101-103)
    low = (xor & (~xor + np.uint32(1))).astype(np.float64)
    ntz = np.frexp(low)[1] - 1
    xl = xor.tolist()
    nlzl = nlz.tolist()
    ntzl = ntz.tolist()

    acc = int(bits[0])
    nb = 32
    stored_leading = 0xFFFF  # sentinel: no window yet (Integer.MAX_VALUE)
    stored_trailing = 0
    for i in range(n - 1):
        x = xl[i]
        if x == 0:
            acc <<= 1
            nb += 1
            continue
        leading = nlzl[i]
        trailing = ntzl[i]
        if leading >= stored_leading and trailing >= stored_trailing:
            sig = 32 - stored_leading - stored_trailing
            acc = (acc << (2 + sig)) | (0b10 << sig) | (x >> stored_trailing)
            nb += 2 + sig
        else:
            sig = 32 - leading - trailing
            acc = (
                ((acc << 13) | (0b11 << 11) | (leading << 6) | sig) << sig
            ) | (x >> trailing)
            nb += 13 + sig
            stored_leading = leading
            stored_trailing = trailing
    pad = (-nb) % 8
    return (acc << pad).to_bytes((nb + pad) // 8, "big")


def gorilla_compress_rows(mat: np.ndarray) -> list[bytes]:
    """Compress M independent k-value float32 streams in lockstep —
    the vectorized (encoder) twin of `gorilla_decompress_matrix`, used
    by the single-timestamp group emitter (`groupfit._single_ts_rows`),
    where millions of tiny streams are emitted per batch.

    All rows advance one VALUE per iteration; the emitted chunk of each
    row (control bits + optional window header + xor payload, <= 45
    bits) is OR-scattered into a per-row byte buffer at that row's bit
    cursor with pure NumPy. Wire-identical to `gorilla_compress` row by
    row, including the leading-zero clamp and the window-reuse rule."""
    mat = np.ascontiguousarray(mat, dtype=np.float32)
    m, k = mat.shape
    if m == 0:
        return []
    bits = mat.view(np.uint32)
    u64 = np.uint64
    max_bytes = (32 + 45 * max(k - 1, 0) + 7) // 8 + 8  # +8 scatter pad
    buf = np.zeros((m, max_bytes), dtype=np.uint8)
    # first value: raw 32 bits at cursor 0
    b0 = bits[:, 0].astype(np.uint64)
    for t in range(4):
        buf[:, t] = ((b0 >> u64(8 * (3 - t))) & u64(0xFF)).astype(np.uint8)
    pos = np.full(m, 32, dtype=np.int64)
    stored_leading = np.full(m, 0xFFFF, dtype=np.int64)  # sentinel
    stored_trailing = np.zeros(m, dtype=np.int64)
    for j in range(1, k):
        xor = (bits[:, j] ^ bits[:, j - 1]).astype(np.uint64)
        zero = xor == 0
        bitlen = np.frexp(np.where(zero, 1, xor).astype(np.float64))[1]
        leading = np.minimum(32 - bitlen, 31)
        low = (xor & (u64(0) - xor)).astype(np.float64)
        ntz = np.frexp(np.where(zero, 1.0, low))[1] - 1
        reuse = (~zero) & (leading >= stored_leading) & (ntz >= stored_trailing)
        new = ~(zero | reuse)
        sig_reuse = 32 - stored_leading - stored_trailing
        sig_new = 32 - leading - ntz
        # chunk value + width per row
        chunk = np.zeros(m, dtype=np.uint64)
        width = np.ones(m, dtype=np.int64)  # zero case: one '0' bit
        if reuse.any():
            w = 2 + sig_reuse
            c = (u64(0b10) << sig_reuse.astype(np.uint64)) | (
                xor >> stored_trailing.astype(np.uint64)
            )
            chunk = np.where(reuse, c, chunk)
            width = np.where(reuse, w, width)
        if new.any():
            sn = sig_new.astype(np.uint64)
            c = (
                (u64(0b11) << (u64(11) + sn))
                | (leading.astype(np.uint64) << (u64(6) + sn))
                | (sn << sn)
                | (xor >> ntz.astype(np.uint64))
            )
            chunk = np.where(new, c, chunk)
            width = np.where(new, 13 + sig_new, width)
            stored_leading = np.where(new, leading, stored_leading)
            stored_trailing = np.where(new, ntz, stored_trailing)
        # OR-scatter `width` bits of `chunk` at each row's cursor
        byte_idx = pos >> 3
        off = (pos & 7).astype(np.uint64)
        val64 = chunk << (u64(64) - off - width.astype(np.uint64))
        rows = np.arange(m)
        for t in range(8):
            buf[rows, byte_idx + t] |= (
                (val64 >> u64(8 * (7 - t))) & u64(0xFF)
            ).astype(np.uint8)
        pos += width
    big = buf.tobytes()
    ends = ((pos + 7) // 8).tolist()
    return [
        big[i * max_bytes : i * max_bytes + ends[i]] for i in range(m)
    ]


def gorilla_decompress(model: bytes, length: int) -> np.ndarray:
    """Decompress `length` float32 values from the bitstream.

    Hot path: an inline bit cursor over one Python int buffer (the
    stream is at most ~4*length_bound bytes, so `acc` stays small) —
    ~3x faster than an object-per-read reader, which matters because
    every dense-segment rollup/grid decodes here."""
    out = np.empty(length, dtype=np.uint32)
    # acc holds the next `nbits` of the stream in its low bits
    pos = 0
    acc = 0
    nbits = 0
    data = model

    def take(k: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < k:
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= k
        v = acc >> nbits
        acc &= (1 << nbits) - 1
        return v

    stored_trailing = 0
    stored_sig = 0
    last = take(32)
    out[0] = last
    for i in range(1, length):
        if take(1):
            if take(1):
                stored_leading = take(5)
                stored_sig = take(6)
                # reference decode quirk (:204-206); our encoder never
                # emits sig=0 (32 fits in 6 bits), kept for parity
                if stored_sig == 0:
                    stored_sig = 32
                stored_trailing = 32 - stored_sig - stored_leading
            value = take(stored_sig) << stored_trailing
            last ^= value
        out[i] = last
    return out.view(np.float32)


def gorilla_decompress_matrix(
    models: list[bytes], lengths: np.ndarray
) -> np.ndarray:
    """Decompress MANY streams in lockstep — the vectorized form of
    `gorilla_decompress` for the dense grid/rollup paths. Returns an
    (n_segments, max(lengths)) float32 matrix in input row order; row
    i is valid up to lengths[i] (the tail is unspecified).

    Lanes are sorted longest first and their streams laid back to back
    in one byte buffer (one ``b"".join``), each lane keeping an
    absolute bit cursor into it. Every lane reads its first value in
    round 0; round i then touches only the lanes with more than i
    values, which are a prefix of the sorted order, so the work is
    proportional to the values decoded, not to n_segments *
    max(lengths). Every bit-level operation (control bits, window
    headers, xor payloads) is a NumPy gather over the prefix's
    cursors; lanes on a path that does not read a field (non-'11'
    control bits) gather garbage at a cursor they do not advance and
    discard it.

    Bit-identical to the scalar decoder including the
    `significantBits == 0 -> 32` reference quirk
    (FacebookGorillaModelType.java:204-206)."""
    n_seg = len(models)
    lengths = np.asarray(lengths, dtype=np.int64)
    if n_seg == 0:
        return np.zeros((0, 0), dtype=np.float32)
    order = np.argsort(-lengths, kind="stable")
    sizes = np.fromiter(map(len, models), dtype=np.int64, count=n_seg)[order]
    # +8 pad so a 5-byte gather at the last bit never leaves the buffer
    buf = np.frombuffer(
        b"".join([models[i] for i in order.tolist()]) + bytes(8),
        dtype=np.uint8,
    )
    pos = (np.cumsum(sizes) - sizes) * 8
    max_n = int(lengths[order[0]])
    # active[i] = lanes with more than i values = prefix length in round i
    active = n_seg - np.searchsorted(
        lengths[order[::-1]], np.arange(max_n), side="right"
    )
    u64 = np.uint64

    def read(p: np.ndarray, k) -> np.ndarray:
        """k bits (scalar or per-lane array, <= 32) at each cursor in
        `p`; cursors are NOT advanced (caller adds masked width)."""
        byte_idx = p >> 3
        b = (
            (buf[byte_idx].astype(np.uint64) << u64(32))
            | (buf[byte_idx + 1].astype(np.uint64) << u64(24))
            | (buf[byte_idx + 2].astype(np.uint64) << u64(16))
            | (buf[byte_idx + 3].astype(np.uint64) << u64(8))
            | buf[byte_idx + 4].astype(np.uint64)
        )
        off = (p & 7).astype(np.uint64)
        kk = np.asarray(k, dtype=np.uint64)
        return (
            (b >> (u64(40) - off - kk)) & ((u64(1) << kk) - u64(1))
        ).astype(np.uint32)

    # rounds x lanes, so each round writes one contiguous row
    out = np.zeros((max_n, n_seg), dtype=np.uint32)
    last = read(pos, 32)
    pos += 32
    out[0] = last
    sig = np.zeros(n_seg, dtype=np.int64)
    trail = np.zeros(n_seg, dtype=np.int64)
    for i in range(1, max_n):
        a = int(active[i])
        p = pos[:a]  # views: in-place updates advance the lanes
        m1 = read(p, 1) == 1
        p += 1  # every active lane consumed the control bit
        if not m1.any():
            out[i, :a] = last[:a]
            continue
        m_new = (read(p, 1) == 1) & m1
        p += m1  # the second control bit ('10' vs '11')
        if m_new.any():
            lead = read(p, 5).astype(np.int64)
            p += 5 * m_new
            sig_v = read(p, 6).astype(np.int64)
            p += 6 * m_new
            sig_v[sig_v == 0] = 32  # reference quirk
            sig[:a] = np.where(m_new, sig_v, sig[:a])
            trail[:a] = np.where(m_new, 32 - sig_v - lead, trail[:a])
        k = np.where(m1, sig[:a], 0)
        last[:a] ^= np.where(m1, read(p, k) << trail[:a].astype(np.uint32), 0)
        p += k
        out[i, :a] = last[:a]
    res = np.empty((n_seg, max_n), dtype=np.uint32)
    res[order] = out.T
    return res.view(np.float32)

