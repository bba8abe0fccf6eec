"""Posting-list block codec: doc-gap delta + FOR bit-packing + VInt tail.

A from-scratch numpy implementation of the reference postings block layout
(public Apache Lucene source, ``core/codecs/lucene104/``):

  - 256-doc blocks (``ForUtil.java:34`` BLOCK_SIZE=256); full blocks store
    FOR-packed doc deltas at the max-needed bit width (``ForUtil.java:31-90``)
    and PFOR-packed freqs with <=7 out-of-band patched exceptions
    (``PForUtil.java:29`` — exceptions are stored as (position, high-bits)
    pairs after the packed body, see ``encode_pfor``/``decode_pfor``).
  - DENSE full blocks store a [marker][span][bitset-over-span] doc section
    instead of FOR-packed deltas whenever the bitset form is smaller (the
    unary/bitset doc-block arm of ``Lucene104PostingsFormat``;
    ``_bitset_doc_section`` below) — hot terms' full blocks are almost
    always dense, saving ~half the doc-section bytes on exactly the lists
    the slowest queries read.
  - doc deltas are d-gaps, first doc of a block delta'd against the previous
    block's last doc (``Lucene104PostingsFormat.java:180-190``).
  - tail block (<256 postings) is a VInt stream with freq folding:
    ``docDelta<<1 | 1`` when freq==1, else ``docDelta<<1`` followed by VInt
    freq (``Lucene104PostingsFormat.java:190-199``,
    ``FreqProxTermsWriterPerField.java:156-173``).
  - per-block competitive (freq, norm) impact skylines for block-max pruning
    (``CompetitiveImpactAccumulator.java:30-70``, ``Impact.java:20-26``).

Encode/decode are array-at-a-time numpy (no per-row Python except the
sequentially-dependent VInt-tail structure walk, bounded at <256 values per
block). Round-trip identity is property-tested in tests/test_codec.py,
mirroring ``BasePostingsFormatTestCase`` randomized round-trips.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 256
_TAIL_MARKER = 0xFF
#: dense full-block doc section stored as a BITSET over the block's doc
#: span instead of FOR-packed deltas (``Lucene104PostingsWriter.java:422-461``
#: unary/bitset encoding): chosen whenever the bitset is smaller — hot
#: (stopword-class) terms' blocks are doc-dense, so this shrinks exactly the
#: lists the slowest queries decode, and unpackbits+flatnonzero decodes
#: faster than unpack+cumsum. Markers 0xFE/0xFF cannot collide with a FOR
#: width byte (<= 64).
_BITSET_MARKER = 0xFE


def _bitset_doc_section(docs: np.ndarray, base: int) -> bytes | None:
    """[0xFE][span_bytes u16 LE][bitset] when smaller than the FOR form,
    else None. Bit (doc - base) is set per doc; decode is positional, so the
    block stays independently decodable from its own metadata."""
    span = int(docs[-1]) - base + 1
    nbytes = (span + 7) // 8
    wd = _bit_width(np.diff(docs, prepend=base).astype(np.uint64))
    for_bytes = 1 + (docs.size * wd + 7) // 8
    if nbytes + 3 >= for_bytes or nbytes > 0xFFFF:
        return None
    bits = np.zeros(nbytes * 8, dtype=np.uint8)
    bits[docs - base] = 1
    return (
        bytes([_BITSET_MARKER, nbytes & 0xFF, nbytes >> 8])
        + np.packbits(bits, bitorder="little").tobytes()
    )


# ---------------------------------------------------------------- varint

def vint_encode(vals: np.ndarray) -> np.ndarray:
    """Vectorized LEB128-style 7-bit varint encode of a uint64 array -> uint8."""
    v = np.asarray(vals, dtype=np.uint64)
    n = v.size
    if n == 0:
        return np.zeros(0, dtype=np.uint8)
    nbits = np.frexp(np.maximum(v, 1).astype(np.float64))[1]
    nbytes = np.maximum((nbits + 6) // 7, 1).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_b = int(nbytes.max())
    for b in range(max_b):
        m = nbytes > b
        chunk = (v[m] >> np.uint64(7 * b)) & np.uint64(0x7F)
        cont = np.where(nbytes[m] > b + 1, 0x80, 0).astype(np.uint64)
        out[starts[m] + b] = (chunk | cont).astype(np.uint8)
    return out


def vint_decode(buf: np.ndarray) -> np.ndarray:
    """Vectorized varint decode of a uint8 buffer -> uint64 array."""
    b = np.asarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    return _vint_values(b, np.flatnonzero((b & 0x80) == 0))


def _vint_values(b: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Varint values of ``b`` whose last bytes are at ``ends``."""
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    pos = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lengths)
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (7 * pos).astype(np.uint64)
    return np.add.reduceat(contrib, starts)


# ---------------------------------------------------------------- FOR packing

def for_pack(vals: np.ndarray, width: int) -> np.ndarray:
    """Pack uint values at fixed bit width (little-endian bit order) -> uint8.

    Byte-lane algorithm: every 8 consecutive values span exactly ``width``
    output bytes; output byte p of a group is assembled from the <=2-3
    values whose bit ranges overlap [8p, 8p+8). That is <= width+8 shift/
    mask ops over n/8-sized arrays — no n x width bit matrix (the naive
    unpack-to-bits layout is O(n*width) memory and went superlinear on
    segment-scale inputs from allocator pressure)."""
    if width == 0:
        return np.zeros(0, dtype=np.uint8)
    v = np.asarray(vals, dtype=np.uint64)
    n = v.size
    if n == 0:
        return np.zeros(0, dtype=np.uint8)
    out_len = (n * width + 7) // 8
    ngroups = (n + 7) // 8
    if n % 8:
        v = np.concatenate([v, np.zeros(8 - n % 8, dtype=np.uint64)])
    g = v.reshape(ngroups, 8)
    out = np.zeros((ngroups, width), dtype=np.uint8)
    for p in range(width):
        lo_bit = 8 * p
        j0 = lo_bit // width
        j1 = min((lo_bit + 7) // width, 7)
        acc = np.zeros(ngroups, dtype=np.uint64)
        for j in range(j0, j1 + 1):
            start = j * width
            if start >= lo_bit:
                acc |= (g[:, j] << np.uint64(start - lo_bit))
            else:
                acc |= (g[:, j] >> np.uint64(lo_bit - start))
        out[:, p] = (acc & np.uint64(0xFF)).astype(np.uint8)
    return out.reshape(-1)[:out_len]


def for_unpack(buf: np.ndarray, width: int, n: int) -> np.ndarray:
    """Unpack n values of `width` bits from uint8 buffer -> uint64."""
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.asarray(buf, dtype=np.uint8), bitorder="little")[: n * width]
    weights = (np.uint64(1) << np.arange(width, dtype=np.uint64))
    return bits.reshape(n, width).astype(np.uint64) @ weights


def _bit_width(vals: np.ndarray) -> int:
    m = int(vals.max()) if vals.size else 0
    return m.bit_length()


_PFOR_FLAG = 0x80
MAX_PFOR_EXCEPTIONS = 7


def pfor_encode_freqs(fr: np.ndarray) -> bytes:
    """PFOR freq section of a full block (``PForUtil.java:29-70`` semantics:
    base width covers all but <= 7 patched exceptions, whose high bits are
    stored out-of-band). Layout:

      plain  : [width]            [FOR lows]
      patched: [base | 0x80]      [FOR lows] [n_exc] [pos u8 ...] [high VInt ...]

    The width byte's high bit flags the patched form (widths are <= 64, so
    the bit is free); returns the plain FOR layout when patching would not
    help (no exceptions at the minimal base)."""
    v = np.asarray(fr, dtype=np.uint64)
    widths = np.frexp(np.maximum(v, 1).astype(np.float64))[1].astype(np.int64)
    wmax = int(widths.max()) if v.size else 0
    # base = smallest width leaving <= MAX_PFOR_EXCEPTIONS exceptions
    srt = np.sort(widths)
    base = int(srt[max(srt.size - 1 - MAX_PFOR_EXCEPTIONS, 0)])
    if base >= wmax:
        return bytes([wmax]) + for_pack(v, wmax).tobytes()
    exc = np.flatnonzero(widths > base)
    lows = v & np.uint64((1 << base) - 1)
    highs = (v[exc] >> np.uint64(base)).astype(np.uint64)
    return (
        bytes([base | _PFOR_FLAG])
        + for_pack(lows, base).tobytes()
        + bytes([exc.size])
        + exc.astype(np.uint8).tobytes()
        + vint_encode(highs).tobytes()
    )


def pfor_decode_freqs(buf: np.ndarray, off: int, n: int) -> tuple[np.ndarray, int]:
    """Inverse of pfor_encode_freqs; returns (freqs int64, next offset)."""
    wbyte = int(buf[off])
    base = wbyte & 0x7F
    nb = (n * base + 7) // 8
    lows = for_unpack(buf[off + 1 : off + 1 + nb], base, n).astype(np.int64)
    off = off + 1 + nb
    if not wbyte & _PFOR_FLAG:
        return lows, off
    n_exc = int(buf[off])
    off += 1
    pos = buf[off : off + n_exc].astype(np.int64)
    off += n_exc
    # n_exc self-delimiting VInts: scan terminator bytes
    terms_found = 0
    j = off
    while terms_found < n_exc:
        if not buf[j] & 0x80:
            terms_found += 1
        j += 1
    highs = vint_decode(buf[off:j]).astype(np.int64)
    off = j
    lows[pos] |= highs << base
    return lows, off


# ---------------------------------------------------------------- blocks

def encode_block(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    prev_last_doc: int,
    norm_bytes: np.ndarray,
) -> bytes:
    """Encode one block (<=256 postings, sorted doc_ids, freqs>=1).

    Unlike the reference (norms in a separate per-segment file read locally,
    ``Lucene90NormsFormat``), we colocate the 1-byte norm with each posting:
    on a distributed engine a query-time doc_id->norm join would shuffle the
    full norms table per query, which does not survive a 100x scale-up. The
    cost is <=1 byte/posting, FOR-packed.
    """
    docs = np.asarray(doc_ids, dtype=np.int64)
    fr = np.asarray(freqs, dtype=np.int64)
    nb = (np.asarray(norm_bytes, dtype=np.int64) & 0xFF)
    deltas = np.diff(docs, prepend=prev_last_doc)
    wn = _bit_width(nb.astype(np.uint64))
    norm_part = np.concatenate(
        [np.array([wn], dtype=np.uint8), for_pack(nb.astype(np.uint64), wn)]
    )
    if docs.size == BLOCK_SIZE:
        bs = _bitset_doc_section(docs, int(prev_last_doc))
        if bs is not None:
            return bs + pfor_encode_freqs(fr) + norm_part.tobytes()
        wd = _bit_width(deltas.astype(np.uint64))
        return (
            bytes([wd])
            + for_pack(deltas.astype(np.uint64), wd).tobytes()
            + pfor_encode_freqs(fr)
            + norm_part.tobytes()
        )
    # tail: interleaved VInt with freq folding
    codes: list[int] = []
    for d, f in zip(deltas.tolist(), fr.tolist()):
        if f == 1:
            codes.append((d << 1) | 1)
        else:
            codes.append(d << 1)
            codes.append(f)
    body = vint_encode(np.array(codes, dtype=np.uint64))
    return bytes([_TAIL_MARKER]) + body.tobytes() + norm_part.tobytes()


def decode_block(
    data: bytes, num_docs: int, prev_last_doc: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block -> (doc_ids, freqs, norm_bytes) int64 arrays."""
    buf = np.frombuffer(data, dtype=np.uint8)

    def _norms(off: int) -> np.ndarray:
        wn = int(buf[off])
        return for_unpack(buf[off + 1 :], wn, num_docs).astype(np.int64)

    if buf.size and buf[0] == _TAIL_MARKER:
        # vint stream is self-delimiting per value; find its byte length by
        # counting terminator bytes (high bit clear) until we have all values
        body = buf[1:]
        ends = np.flatnonzero((body & 0x80) == 0)
        flat_all = vint_decode(body[: ends[-1] + 1]) if ends.size else np.zeros(0, np.uint64)
        lowbit = (flat_all & np.uint64(1)).astype(np.int64)
        fold_all = lowbit == 1
        if fold_all.all() or num_docs == 0:
            # common fast path: every freq folded -> values are all codes
            code_idx = np.arange(num_docs, dtype=np.int64)
        else:
            # walk the code/freq structure (tiny: <256 steps, minimal body)
            step = (2 - lowbit).tolist()
            code_idx = np.empty(num_docs, dtype=np.int64)
            i = 0
            for k in range(num_docs):
                code_idx[k] = i
                i += step[i]
        deltas = (flat_all[code_idx] >> np.uint64(1)).astype(np.int64)
        folded = fold_all[code_idx]
        freqs = np.ones(num_docs, dtype=np.int64)
        nf = ~folded
        if nf.any():
            freqs[nf] = flat_all[code_idx[nf] + 1].astype(np.int64)
        last = int(code_idx[-1]) + (1 if folded[-1] else 2) if num_docs else 0
        vint_len = int(ends[last - 1]) + 1 if last > 0 else 0
        docs = np.cumsum(deltas) + prev_last_doc
        return docs, freqs, _norms(1 + vint_len)
    if buf.size and buf[0] == _BITSET_MARKER:
        nbytes = int(buf[1]) | (int(buf[2]) << 8)
        bits = np.unpackbits(buf[3 : 3 + nbytes], bitorder="little")
        docs = np.flatnonzero(bits).astype(np.int64) + prev_last_doc
        freqs, off = pfor_decode_freqs(buf, 3 + nbytes, num_docs)
        return docs, freqs, _norms(off)
    wd = int(buf[0])
    nd = (num_docs * wd + 7) // 8
    deltas = for_unpack(buf[1 : 1 + nd], wd, num_docs).astype(np.int64)
    freqs, off = pfor_decode_freqs(buf, 1 + nd, num_docs)
    docs = np.cumsum(deltas) + prev_last_doc
    return docs, freqs, _norms(off)


def _ranges(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(starts[i], starts[i] + lengths[i])``."""
    total = int(lengths.sum())
    heads = np.cumsum(lengths) - lengths
    return np.arange(total, dtype=np.int64) + np.repeat(starts - heads, lengths)


def _unpack_at(words: np.ndarray, bitpos: np.ndarray, widths: np.ndarray) -> np.ndarray:
    """Read one little-endian bit field per value: ``widths[i]`` bits from
    bit ``bitpos[i]`` of the buffer behind ``words`` (the byte-strided
    uint64 view from ``decode_blocks``) -> uint64. Same bits as
    ``for_unpack``; fields straddling a 64-bit window take a second word."""
    byte = bitpos >> 3
    shift = (bitpos & 7).astype(np.uint64)
    w = widths.astype(np.uint64)
    vals = words[byte] >> shift
    over = np.flatnonzero(shift + w > 64)
    if over.size:
        vals[over] |= words[byte[over] + 8] << (np.uint64(64) - shift[over])
    short = w < 64
    vals[short] &= (np.uint64(1) << w[short]) - np.uint64(1)
    return vals


def decode_blocks(
    data, num_docs, first_doc
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks in one vectorized pass -> concatenated
    (doc_ids, freqs, norm_bytes) int64 arrays, equal to concatenating
    ``decode_block(data[i], num_docs[i], first_doc[i])`` over i.

    Every block's section offsets are computed across blocks at once; bit
    fields (FOR deltas, PFOR freq lows, norms) are read through one
    byte-strided uint64 view of the joined buffer. The VInt-tail code/freq
    structure, a sequential walk in decode_block, is resolved for all tail
    blocks at once: directly where every code is folded, else by pointer
    doubling along the code chain (<= 8 numpy steps for < 256 docs).
    """
    nd = np.asarray(num_docs, dtype=np.int64)
    fd = np.asarray(first_doc, dtype=np.int64)
    n_blocks = nd.size
    total = int(nd.sum())
    if n_blocks == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n_blocks)
    # 16 zero bytes of padding: every uint64 read below stays in bounds
    raw = np.frombuffer(b"".join(data) + bytes(16), dtype=np.uint8)
    words = np.ndarray((raw.size - 7,), dtype="<u8", buffer=raw, strides=(1,))
    bstart = np.cumsum(lens) - lens
    pstart = np.cumsum(nd) - nd
    pblock = np.repeat(np.arange(n_blocks, dtype=np.int64), nd)
    pord = np.arange(total, dtype=np.int64) - pstart[pblock]
    marker = raw[bstart]
    is_tail = marker == _TAIL_MARKER
    is_bits = marker == _BITSET_MARKER
    is_for = ~(is_tail | is_bits)

    deltas = np.zeros(total, dtype=np.int64)
    freqs = np.ones(total, dtype=np.int64)
    norm_off = np.zeros(n_blocks, dtype=np.int64)  # absolute width-byte pos

    def packed(blocks, off, width):
        """The postings of ``blocks`` (rows) and their values, packed
        ``width[i]`` bits each from byte ``off[i]`` of block i."""
        rows = _ranges(pstart[blocks], nd[blocks])
        i = np.repeat(np.arange(blocks.size), nd[blocks])
        bitpos = off[i] * 8 + pord[rows] * width[i]
        return rows, _unpack_at(words, bitpos, width[i]).astype(np.int64)

    # ---- VInt tails: decode every value of every tail body (the norm
    # bytes after it decode as junk values the walk never reaches, exactly
    # as in decode_block), then find each posting's code value
    tb = np.flatnonzero(is_tail)
    if tb.size:
        tlen = lens[tb] - 1
        tnd = nd[tb]
        thead = np.cumsum(tlen) - tlen  # body start in the joined bodies
        body = raw[_ranges(bstart[tb] + 1, tlen)]
        is_end = (body & 0x80) == 0
        is_end[thead + tlen - 1] = True  # no value spans two blocks
        ends = np.flatnonzero(is_end)
        vals = _vint_values(body, ends)
        step = 2 - (vals & np.uint64(1)).astype(np.int64)
        first = np.searchsorted(ends, thead)  # first value of each body
        rows = _ranges(pstart[tb], tnd)
        k = pord[rows]
        # code k of a block sits at first + k while its first k codes are
        # folded (odd); blocks with an unfolded code follow their code
        # chain (next = i + step[i]) by pointer doubling instead
        code_idx = np.repeat(first, tnd) + k
        unfolded = np.concatenate(([0], np.cumsum(step == 2)))
        chained = np.repeat(unfolded[first + tnd] > unfolded[first], tnd)
        if chained.any():
            kk = k[chained]
            pos = code_idx[chained] - kk
            jump = np.minimum(np.arange(vals.size) + step, vals.size - 1)
            for bit in range(int(kk.max()).bit_length()):
                m = ((kk >> bit) & 1) == 1
                pos[m] = jump[pos[m]]
                jump = jump[jump]
            code_idx[chained] = pos
        code = vals[code_idx]
        deltas[rows] = (code >> np.uint64(1)).astype(np.int64)
        unf = np.flatnonzero((code & np.uint64(1)) == 0)
        freqs[rows[unf]] = vals[code_idx[unf] + 1].astype(np.int64)
        # body ends with the last posting's code, or its freq if unfolded
        body_len = np.zeros(tb.size, dtype=np.int64)
        has = tnd > 0
        last = code_idx[np.cumsum(tnd)[has] - 1]
        last += 1 - (vals[last] & np.uint64(1)).astype(np.int64)
        body_len[has] = ends[last] + 1 - thead[has]
        norm_off[tb] = bstart[tb] + 1 + body_len

    # ---- full blocks: FOR or bitset doc section, then PFOR freqs
    fb = np.flatnonzero(~is_tail)
    if fb.size:
        freq_off = np.empty(n_blocks, dtype=np.int64)
        b = np.flatnonzero(is_for)
        if b.size:
            wd = raw[bstart[b]].astype(np.int64)
            rows, vals = packed(b, bstart[b] + 1, wd)
            deltas[rows] = vals
            freq_off[b] = bstart[b] + 1 + (nd[b] * wd + 7) // 8
        b = np.flatnonzero(is_bits)
        freq_off[b] = (bstart[b] + 3 + raw[bstart[b] + 1].astype(np.int64)
                       + (raw[bstart[b] + 2].astype(np.int64) << 8))
        freq_off = freq_off[fb]
        wbyte = raw[freq_off].astype(np.int64)
        base = wbyte & 0x7F
        rows, vals = packed(fb, freq_off + 1, base)
        freqs[rows] = vals
        norm_off[fb] = freq_off + 1 + (nd[fb] * base + 7) // 8
        # patched exceptions: [n_exc][pos u8 ...][high VInt ...]
        pat = np.flatnonzero(wbyte & _PFOR_FLAG)
        if pat.size:
            p = norm_off[fb[pat]]
            n_exc = raw[p].astype(np.int64)
            h0 = p + 1 + n_exc
            term_pos = np.flatnonzero((raw & 0x80) == 0)
            k = np.searchsorted(term_pos, h0) + n_exc - 1
            h1 = np.where(n_exc > 0, term_pos[np.maximum(k, 0)] + 1, h0)
            highs = vint_decode(raw[_ranges(h0, h1 - h0)]).astype(np.int64)
            at = np.repeat(pstart[fb[pat]], n_exc) + raw[_ranges(p + 1, n_exc)]
            freqs[at] |= highs << np.repeat(base[pat], n_exc)
            norm_off[fb[pat]] = h1

    # ---- docs: per-block running sum of deltas from first_doc (bitset
    # blocks instead list the set bits of their span)
    csum = np.cumsum(deltas)
    before = np.concatenate(([0], csum))[pstart]
    docs = csum - before[pblock] + fd[pblock]
    bb = np.flatnonzero(is_bits)
    if bb.size:
        span = raw[bstart[bb] + 1].astype(np.int64) | (raw[bstart[bb] + 2].astype(np.int64) << 8)
        bits = np.unpackbits(raw[_ranges(bstart[bb] + 3, span)], bitorder="little")
        setb = np.flatnonzero(bits)
        span_start = (np.cumsum(span) - span) * 8
        owner = np.searchsorted(span_start, setb, side="right") - 1
        if not np.array_equal(np.bincount(owner, minlength=bb.size), nd[bb]):
            raise ValueError("bitset block: set bits != num_docs")
        docs[_ranges(pstart[bb], nd[bb])] = setb - span_start[owner] + fd[bb][owner]

    # ---- norms: [wn][FOR norms] at each block's norm offset
    _, norms = packed(np.arange(n_blocks), norm_off + 1, raw[norm_off].astype(np.int64))
    return docs, freqs, norms


def competitive_impacts(freqs: np.ndarray, norm_bytes: np.ndarray) -> tuple[list[int], list[int]]:
    """Skyline of competitive (freq, norm) pairs for one block.

    Keeps, per distinct norm byte, the max freq; then prunes pairs dominated by
    a pair with <= norm and >= freq (CompetitiveImpactAccumulator semantics).
    Returns (freq_list, norm_list) sorted by norm ascending.
    """
    fr = np.asarray(freqs, dtype=np.int64)
    nb = np.asarray(norm_bytes, dtype=np.int64) & 0xFF
    order = np.argsort(nb, kind="stable")
    nb_s, fr_s = nb[order], fr[order]
    uniq, idx = np.unique(nb_s, return_index=True)
    max_per_norm = np.maximum.reduceat(fr_s, idx)
    keep_f: list[int] = []
    keep_n: list[int] = []
    running = -1
    for n, f in zip(uniq.tolist(), max_per_norm.tolist()):
        if f > running:
            keep_f.append(int(f))
            keep_n.append(int(n))
            running = int(f)
    return keep_f, keep_n


def encode_postings(
    doc_ids: np.ndarray, freqs: np.ndarray, norm_bytes: np.ndarray
) -> list[dict]:
    """Split one term's postings into blocks; returns per-block dicts with
    keys: block_id, first_doc, last_doc, num_docs, data (bytes),
    impact_freqs, impact_norms."""
    docs = np.asarray(doc_ids, dtype=np.int64)
    fr = np.asarray(freqs, dtype=np.int64)
    nb = np.asarray(norm_bytes, dtype=np.int64)
    out = []
    for bi in range(0, docs.size, BLOCK_SIZE):
        d = docs[bi : bi + BLOCK_SIZE]
        f = fr[bi : bi + BLOCK_SIZE]
        n = nb[bi : bi + BLOCK_SIZE]
        imp_f, imp_n = competitive_impacts(f, n)
        out.append(
            {
                "block_id": bi // BLOCK_SIZE,
                "first_doc": int(d[0]),
                "last_doc": int(d[-1]),
                "num_docs": int(d.size),
                "ttf": int(f.sum()),
                # delta base = own first_doc, NOT the previous block's last doc
                # (Lucene chains blocks sequentially in one file,
                # Lucene104PostingsFormat.java:180-190; a distributed scan
                # needs every block independently decodable because Arrow
                # batches split a term's blocks across tasks)
                "data": encode_block(d, f, int(d[0]), n),
                "impact_freqs": imp_f,
                "impact_norms": imp_n,
            }
        )
    return out


def _vint_sizes(vals: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length (must mirror vint_encode)."""
    v = np.asarray(vals, dtype=np.uint64)
    nbits = np.frexp(np.maximum(v, 1).astype(np.float64))[1]
    return np.maximum((nbits + 6) // 7, 1).astype(np.int64)


def encode_postings_batch(
    docs: np.ndarray,
    freqs: np.ndarray,
    norm_bytes: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
) -> dict[str, list]:
    """Encode MANY terms' postings in ONE vectorized pass.

    ``docs/freqs/norm_bytes`` are the concatenated per-term postings (term
    ranges given by ``starts[i]:ends[i]``, docs sorted within each term).
    Every term's range is first split into <=BLOCK_SIZE chunks (block
    boundaries are materialized up front, vectorized), then ALL blocks are
    VInt-tail encoded with freq folding in a single numpy pass — the only
    Python-level work is byte slicing per block.

    Full 256-doc blocks are FOR-packed exactly like the scalar
    ``encode_block`` layout ([wd] deltas [wf] freqs [wn] norms at max-needed
    bit width, ``ForUtil.java:31-90``); packing is vectorized ACROSS blocks
    grouped by bit width (256 values * w bits = exactly 32w bytes, so
    concatenated packbits slices per block with no alignment fixup). Tail
    blocks (<256) are the VInt layout with freq folding.

    Differences vs the scalar ``encode_postings`` path (both decode
    identically via ``decode_block``): tail-block norms are written width-8
    raw (scalar packs them). Impacts are the full competitive skyline
    (identical to the scalar ``competitive_impacts``), vectorized across
    all blocks.

    Returns dict of parallel lists: term_idx, block_id, first_doc, last_doc,
    num_docs, ttf, data, impact_freqs, impact_norms.
    """
    docs = np.asarray(docs, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    nb = np.asarray(norm_bytes, dtype=np.int64) & 0xFF
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    sizes = ends - starts
    n_terms = starts.size

    out: dict[str, list] = {
        k: []
        for k in (
            "term_idx", "block_id", "first_doc", "last_doc", "num_docs",
            "ttf", "data", "impact_freqs", "impact_norms",
        )
    }
    if docs.size == 0 or n_terms == 0:
        return out

    # ---- split every term range into <=256-doc blocks (vectorized)
    nbpt = (sizes + BLOCK_SIZE - 1) // BLOCK_SIZE  # blocks per term
    total_blocks = int(nbpt.sum())
    term_of_block = np.repeat(np.arange(n_terms, dtype=np.int64), nbpt)
    # within-term block ordinal: arange per term
    first_block_of_term = np.concatenate(([0], np.cumsum(nbpt)[:-1]))
    block_ord = np.arange(total_blocks, dtype=np.int64) - first_block_of_term[term_of_block]
    bstarts = starts[term_of_block] + block_ord * BLOCK_SIZE
    bends = np.minimum(bstarts + BLOCK_SIZE, ends[term_of_block])
    bsizes = bends - bstarts

    # rows are already contiguous per block in term order? Only if blocks of a
    # term tile its range in order — they do, and terms are contiguous, so the
    # concatenation of [bstarts[i]:bends[i]] is exactly 0..N in order.
    # Therefore per-row block index:
    row_block = np.repeat(np.arange(total_blocks, dtype=np.int64), bsizes)
    bs_row = np.concatenate(([0], np.cumsum(bsizes)[:-1]))  # first row of block

    delta = docs.copy()
    delta[1:] -= docs[:-1]
    delta[bs_row] = 0  # each block's delta base is its own first_doc

    full_blk = bsizes == BLOCK_SIZE
    row_is_full = np.repeat(full_blk, bsizes)

    # ---- FOR-packed full blocks, vectorized across blocks per bit width
    # (scalar encode_block layout: [wd] deltas [wf] freqs [wn] norms)
    full_payload: dict[int, bytes] = {}
    if full_blk.any():
        # int64 -> uint64 is a zero-copy reinterpret (values are nonnegative)
        fd = delta[row_is_full].view(np.uint64).reshape(-1, BLOCK_SIZE)
        ff = freqs[row_is_full].view(np.uint64).reshape(-1, BLOCK_SIZE)
        fn = nb[row_is_full].view(np.uint64).reshape(-1, BLOCK_SIZE)
        fb_ids = np.flatnonzero(full_blk)

        def _widths(mat: np.ndarray) -> np.ndarray:
            mx = mat.max(axis=1)
            w = np.zeros(mx.size, dtype=np.int64)
            nz = mx > 0
            w[nz] = np.floor(np.log2(mx[nz].astype(np.float64))).astype(np.int64) + 1
            return w

        def _pack_rows(mat: np.ndarray, widths: np.ndarray) -> list[bytes]:
            out: list[bytes] = [b""] * mat.shape[0]
            uniq = np.unique(widths)
            for w in uniq:
                if w == 0:
                    continue  # width 0 packs to zero bytes
                if uniq.size == 1:
                    flat = mat.reshape(-1)  # view: skip the fancy-index copy
                    rows = range(mat.shape[0])
                else:
                    idx = np.flatnonzero(widths == w)
                    flat = mat[idx].reshape(-1)
                    rows = idx.tolist()
                packed = for_pack(flat, int(w)).tobytes()
                per = BLOCK_SIZE * int(w) // 8  # exact: 256*w bits = 32w bytes
                for k, r in enumerate(rows):
                    out[r] = packed[k * per : (k + 1) * per]
            return out

        wd_a, wn_a = _widths(fd), _widths(fn)
        dparts = _pack_rows(fd, wd_a)
        nparts = _pack_rows(fn, wn_a)

        # PFOR freqs (PForUtil.java semantics, vectorized across blocks):
        # base width = 8th-largest per-block bit length -> <= 7 exceptions,
        # whose high bits go out-of-band as VInts
        fw_all = np.frexp(np.maximum(ff, 1).astype(np.float64))[1].astype(np.int64)
        wmax_b = fw_all.max(axis=1)
        kidx = BLOCK_SIZE - 1 - MAX_PFOR_EXCEPTIONS
        base_b = np.partition(fw_all, kidx, axis=1)[:, kidx]
        patched = base_b < wmax_b
        eff_w = np.where(patched, base_b, wmax_b)
        lows = ff & (((np.uint64(1) << eff_w.astype(np.uint64))
                      - np.uint64(1))[:, None])
        fparts = _pack_rows(lows, eff_w)
        er, ec = np.nonzero(fw_all > eff_w[:, None])
        highs = ff[er, ec] >> eff_w[er].astype(np.uint64)
        hbytes = vint_encode(highs).tobytes()
        hoff = np.concatenate(([0], np.cumsum(_vint_sizes(highs))))
        nblk_full = ff.shape[0]
        e_lo = np.searchsorted(er, np.arange(nblk_full))
        e_hi = np.searchsorted(er, np.arange(nblk_full), side="right")
        ec_u8 = ec.astype(np.uint8).tobytes()

        patched_l = patched.tolist()
        for k, bid in enumerate(fb_ids.tolist()):
            if patched_l[k]:
                a, b2 = int(e_lo[k]), int(e_hi[k])
                fsec = (
                    bytes([int(eff_w[k]) | _PFOR_FLAG]) + fparts[k]
                    + bytes([b2 - a]) + ec_u8[a:b2]
                    + hbytes[hoff[a]:hoff[b2]]
                )
            else:
                fsec = bytes([int(eff_w[k])]) + fparts[k]
            # dense-block bitset doc section (same choice rule as the scalar
            # encode_block, so scalar/batch stay byte-identical)
            bdocs = docs[bstarts[bid]:bends[bid]]
            dsec = _bitset_doc_section(bdocs, int(bdocs[0]))
            if dsec is None:
                dsec = bytes([int(wd_a[k])]) + dparts[k]
            full_payload[bid] = (
                dsec + fsec + bytes([int(wn_a[k])]) + nparts[k]
            )

    # ---- VInt body with freq folding over TAIL-block rows only
    trows = ~row_is_full
    t_delta = delta[trows]
    t_freqs = freqs[trows]
    tsizes = bsizes[~full_blk]
    t_bs_row = np.concatenate(([0], np.cumsum(tsizes)[:-1])) if tsizes.size else np.zeros(0, np.int64)
    fold = t_freqs == 1
    extra = ~fold
    code = (t_delta.astype(np.uint64) << np.uint64(1)) | fold.astype(np.uint64)
    npos = np.arange(t_delta.size, dtype=np.int64) + np.concatenate(
        ([0], np.cumsum(extra.astype(np.int64))[:-1])
    )
    vals = np.zeros(t_delta.size + int(extra.sum()), dtype=np.uint64)
    if vals.size:
        vals[npos] = code
        vals[npos[extra] + 1] = t_freqs[extra].astype(np.uint64)
    body = vint_encode(vals).tobytes()
    boff = np.concatenate(([0], np.cumsum(_vint_sizes(vals))))
    if tsizes.size:
        vstart = npos[t_bs_row]
        vend = np.concatenate((vstart[1:], [vals.size]))
        byte_lo = boff[vstart]
        byte_hi = boff[vend]
    else:
        byte_lo = byte_hi = np.zeros(0, dtype=np.int64)
    norm_raw = nb.astype(np.uint8).tobytes()

    # ---- per-block competitive impact SKYLINE (CompetitiveImpactAccumulator
    # semantics, matching the scalar competitive_impacts): per distinct norm
    # byte the max freq, then entries dominated by a lower-norm pair with
    # >= freq are pruned — vectorized across ALL blocks with one lexsort +
    # reduceat + a Hillis-Steele segmented prefix-max (<= 8 doubling passes).
    order_i = np.lexsort((nb, row_block))
    rb_s = row_block[order_i]
    nb_s = nb[order_i]
    fr_s = freqs[order_i]
    new_grp = np.concatenate(
        ([True], (rb_s[1:] != rb_s[:-1]) | (nb_s[1:] != nb_s[:-1]))
    )
    g_start = np.flatnonzero(new_grp)
    g_block = rb_s[g_start]
    g_norm = nb_s[g_start]
    g_freq = np.maximum.reduceat(fr_s, g_start)
    # exclusive prefix max of g_freq within each block segment
    prev = np.full(g_freq.size, -1, dtype=np.int64)
    prev[1:] = g_freq[:-1]
    prev[np.concatenate(([True], g_block[1:] != g_block[:-1]))] = -1
    d = 1
    while d < g_freq.size:
        cand = prev[:-d]
        same = g_block[d:] == g_block[:-d]
        np.maximum(prev[d:], np.where(same, cand, -1), out=prev[d:])
        if d >= BLOCK_SIZE:
            break
        d *= 2
    keep = g_freq > prev
    sk_block = g_block[keep]
    sk_norm = g_norm[keep]
    sk_freq = g_freq[keep]
    sk_bounds = np.searchsorted(sk_block, np.arange(total_blocks + 1))

    ttfs = np.add.reduceat(freqs, bs_row)
    firsts = docs[bs_row]
    lasts = docs[bends - 1]
    tm = bytes([_TAIL_MARKER])
    w8 = bytes([8])

    out["term_idx"] = term_of_block.tolist()
    out["block_id"] = block_ord.tolist()
    out["first_doc"] = firsts.tolist()
    out["last_doc"] = lasts.tolist()
    out["num_docs"] = bsizes.tolist()
    out["ttf"] = ttfs.tolist()
    sk_f_l = sk_freq.tolist()
    sk_n_l = sk_norm.tolist()
    sk_b_l = sk_bounds.tolist()
    out["impact_freqs"] = [
        sk_f_l[sk_b_l[j]:sk_b_l[j + 1]] for j in range(total_blocks)
    ]
    out["impact_norms"] = [
        sk_n_l[sk_b_l[j]:sk_b_l[j + 1]] for j in range(total_blocks)
    ]
    data = out["data"]
    tail_ord = (np.cumsum(~full_blk) - 1).tolist()
    blo = byte_lo.tolist()
    bhi = byte_hi.tolist()
    rlo = bstarts.tolist()
    rhi = bends.tolist()
    is_full = full_blk.tolist()
    for j in range(total_blocks):
        if is_full[j]:
            data.append(full_payload[j])
        else:
            t = tail_ord[j]
            data.append(tm + body[blo[t]:bhi[t]] + w8 + norm_raw[rlo[j]:rhi[j]])
    return out


def decode_postings(blocks: list[dict]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of encode_postings over an ordered block list ->
    (doc_ids, freqs, norm_bytes)."""
    blocks = sorted(blocks, key=lambda x: x["block_id"])
    return decode_blocks(
        [blk["data"] for blk in blocks],
        [blk["num_docs"] for blk in blocks],
        [blk["first_doc"] for blk in blocks],
    )
