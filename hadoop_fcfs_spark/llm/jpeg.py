"""JPEG codec, pure Python + numpy (no Pillow, no libjpeg): baseline
sequential AND progressive Huffman processes of ITU-T T.81.

Decode: marker parsing (SOI/APPn/COM/DQT/DHT/SOF0/SOF1/SOF2/DRI/SOS/
EOI), canonical Huffman entropy decode with byte unstuffing and
restart markers, and a single coefficient-accumulation core that
treats baseline as one full-band scan and progressive (Annex G) as a
sequence of DC/AC spectral-selection and successive-approximation
scans (EOBn end-of-band runs, +-1<<Al newly-nonzero insertion,
correction-bit refinement); then one dequantization + zigzag +
orthonormal-matrix IDCT pass, sampling-factor block layout with
chroma upsampling, and JFIF full-range YCbCr -> RGB. The companion
encoders write interchange-format baseline (Annex K example tables
scaled by the libjpeg quality formula, optional 4:2:0 and restart
intervals) and spectral-selection progressive (DC scan + per-component
AC scans with real EOBn runs) — they exist so the decoder has in-repo
round-trip partners and so `resize_images` can re-encode in kind, the
`_encode_png`/`_encode_gif` precedent. Both encoders quantize
identically, so progressive and baseline encodings of the same image
must decode bit-for-bit equal — the strongest oracle the test suite
asserts.

Everything here is public knowledge (ITU-T T.81 / ISO 10918-1, JFIF
spec); the reference repo has no image codec at all — its binary-blob
handling is SequenceFile bytes (reference:
hadoop-mapreduce-client-core/src/main/java/org/apache/hadoop/mapreduce/
lib/input/SequenceFileInputFormat.java:1), which is exactly why this
engine carries its own decode tier for the multimodal columns.

Arithmetic coding, 12-bit precision, hierarchical and lossless modes
raise ValueError — baseline + progressive Huffman cover essentially
all interchange files in the wild; the rest keep an honest boundary.
"""

from __future__ import annotations

from functools import lru_cache

_JPEG_SIG = b"\xff\xd8\xff"

# decompression-bomb guard: a ~100-byte blob whose SOF claims
# 65535x65535 would otherwise allocate tens of GB of coefficient
# storage BEFORE any data-length check can fire. 16.7 MP is far past
# what the pure-Python entropy loop can decode in reasonable task time
# anyway; at 100 TB of untrusted blobs the cap turns an executor OOM
# into a quarantinable ValueError.
_MAX_PIXELS = 1 << 24

# zigzag scan position -> natural (row-major) index, T.81 Figure 5
_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K example tables (T.81 K.1/K.3) — the de-facto interchange set.
_QT_LUM = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
_QT_CHROM = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)
_HT_DC_LUM = (
    bytes((0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)),
    bytes(range(12)),
)
_HT_DC_CHROM = (
    bytes((0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)),
    bytes(range(12)),
)
_HT_AC_LUM = (
    bytes((0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)),
    bytes.fromhex(
        "010203000411051221314106135161071422718114328191a1082342b1c115"
        "52d1f02433627282090a161718191a25262728292a3435363738393a434445"
        "464748494a535455565758595a636465666768696a737475767778797a8384"
        "85868788898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8"
        "b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8e9eaf1"
        "f2f3f4f5f6f7f8f9fa"
    ),
)
_HT_AC_CHROM = (
    bytes((0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)),
    bytes.fromhex(
        "000102031104052131061241510761711322328108144291a1b1c109233352"
        "f0156272d10a162434e125f11718191a262728292a35363738393a43444546"
        "4748494a535455565758595a636465666768696a737475767778797a828384"
        "85868788898a92939495969798999aa2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8"
        "b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae2e3e4e5e6e7e8e9eaf2f3"
        "f4f5f6f7f8f9fa"
    ),
)


@lru_cache(maxsize=1)
def _dct_mat():
    """Orthonormal 8x8 DCT-II basis M: forward F = M @ (x-128) @ M.T,
    inverse x = M.T @ F @ M + 128."""
    import numpy as np

    n = np.arange(8)
    M = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16) * np.sqrt(0.25)
    M[0] *= np.sqrt(0.5)
    return M


def _build_huffman(counts: bytes, symbols: bytes):
    """Canonical JPEG Huffman table -> {(length, code): symbol}
    (T.81 Annex C code assignment)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if k >= len(symbols):
                raise ValueError("malformed JPEG Huffman table")
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huffman_codes(counts: bytes, symbols: bytes):
    """Same assignment, encoder direction: {symbol: (code, length)}."""
    return {
        sym: (code, length)
        for (length, code), sym in _build_huffman(counts, symbols).items()
    }


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment, with the
    T.81 byte-unstuffing rule (FF 00 -> data FF) and restart-marker
    resync. Hitting any other marker mid-read raises (truncated)."""

    def __init__(self, blob: bytes, pos: int):
        self.blob = blob
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        b = self.blob
        if self.pos >= len(b):
            raise ValueError("truncated JPEG entropy data")
        byte = b[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(b):
                raise ValueError("truncated JPEG entropy data")
            nxt = b[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                raise ValueError(
                    f"unexpected marker 0xff{nxt:02x} inside JPEG scan"
                )
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode(self, table) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.read(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def restart(self, n: int):
        """Byte-align and consume the expected RSTn marker."""
        self.acc = 0
        self.nbits = 0
        b = self.blob
        if self.pos + 2 > len(b) or b[self.pos] != 0xFF or b[
            self.pos + 1
        ] != 0xD0 + (n & 7):
            raise ValueError("missing JPEG restart marker")
        self.pos += 2


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _decode_dc_first(reader, dc_tab, blk, pred: int, al: int) -> int:
    """First (or only) DC pass: Huffman diff + EXTEND, stored << Al
    (T.81 F.2.2.1 / G.1.2.1)."""
    t = reader.decode(dc_tab)
    if t > 11:
        raise ValueError("bad JPEG DC category")
    pred += _extend(reader.read(t), t)
    blk[0] = pred << al
    return pred


def _decode_ac_first(reader, ac_tab, blk, ss, se, al, eobrun) -> int:
    """First AC pass over band [ss, se], values stored << Al. Baseline
    AC decoding is the ss=1, se=63, al=0 case (an EOB code is an EOB
    run of exactly 1 there). Returns the remaining end-of-band run
    (blocks to skip entirely)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode(ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1  # EOBn: current block ends now
            if r:
                eobrun += reader.read(r)
            break
        k += r
        if k > se:
            raise ValueError("JPEG AC run past end of band")
        blk[k] = _extend(reader.read(s), s) << al
        k += 1
    return eobrun


def _decode_ac_refine(reader, ac_tab, blk, ss, se, al, eobrun) -> int:
    """AC successive-approximation refinement (T.81 G.1.2.3): newly
    nonzero coefficients arrive as +-1 << Al; every coefficient with
    prior history gets a correction bit appended at bit position Al.
    Python's & on negatives is two's-complement like C, so the
    history-bit test matches the reference semantics directly."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode(ac_tab)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read(r)
                    break
                val = 0  # ZRL: pass over 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("bad JPEG refinement magnitude")
                val = p1 if reader.read(1) else m1
            while k <= se:
                if blk[k] != 0:
                    if reader.read(1) and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # drain correction bits for the whole band
            if blk[k] != 0:
                if reader.read(1) and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _scan_pass(blob, pos, scomps, ss, se, ah, al, ri, mcux, mcuy) -> int:
    """Decode one entropy-coded scan into the components' coefficient
    arrays (zigzag order). Interleaved scans walk the MCU grid;
    single-component scans walk that component's true block grid
    (T.81 A.2). Returns the byte position after the scan data."""
    reader = _BitReader(blob, pos)
    preds = [0] * len(scomps)
    eobrun = 0
    nrst = 0
    interleaved = len(scomps) > 1
    if interleaved:
        units = mcux * mcuy
    else:
        units = scomps[0]["bw_t"] * scomps[0]["bh_t"]
    for seen in range(units):
        if ri and seen and seen % ri == 0:
            reader.restart(nrst)
            nrst = (nrst + 1) & 7
            preds = [0] * len(scomps)
            eobrun = 0
        if interleaved:
            my, mx = divmod(seen, mcux)
            for ci, c in enumerate(scomps):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = c["coef"][my * c["v"] + by][mx * c["h"] + bx]
                        if ah == 0:
                            preds[ci] = _decode_dc_first(
                                reader, c["dc"], blk, preds[ci], al
                            )
                        else:
                            blk[0] |= reader.read(1) << al
                        if se > 0:  # baseline/sequential full band
                            eobrun = _decode_ac_first(
                                reader, c["ac"], blk, 1, se, al, eobrun
                            )
        else:
            c = scomps[0]
            by, bx = divmod(seen, c["bw_t"])
            blk = c["coef"][by][bx]
            if ss == 0:
                if ah == 0:
                    preds[0] = _decode_dc_first(
                        reader, c["dc"], blk, preds[0], al
                    )
                else:
                    blk[0] |= reader.read(1) << al
                if se > 0:
                    eobrun = _decode_ac_first(
                        reader, c["ac"], blk, 1, se, al, eobrun
                    )
            elif ah == 0:
                eobrun = _decode_ac_first(
                    reader, c["ac"], blk, ss, se, al, eobrun
                )
            else:
                eobrun = _decode_ac_refine(
                    reader, c["ac"], blk, ss, se, al, eobrun
                )
    return reader.pos


def _decode_coefficients(blob: bytes):
    """Parse the markers and entropy-decode every scan of ``blob``:
    returns ``((h, w), comps, qtables, hmax, vmax)``, where
    ``comps[i]["coef"]`` holds component i's quantized coefficients in
    zigzag order over the padded MCU grid (the layout of
    :func:`_plan_quantized`'s blocks) and ``comps[i]["tq"]`` names its
    table in ``qtables``."""
    import numpy as np

    if len(blob) < 4 or blob[:3] != _JPEG_SIG:
        raise ValueError("not a JPEG payload")
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    comps = None
    hmax = vmax = mcux = mcuy = 0
    nscans = 0
    restart_interval = 0
    pos = 2
    while True:
        if pos + 2 > len(blob):
            if nscans:  # data ended after a complete scan, EOI missing
                break
            raise ValueError("truncated JPEG: no SOS marker")
        if blob[pos] != 0xFF:
            raise ValueError(f"malformed JPEG marker at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede the
        # marker code — skip them (the post-SOS resync path already does)
        while pos + 1 < len(blob) and blob[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(blob):
            raise ValueError("truncated JPEG: fill bytes run to EOF")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # SOI / TEM / stray RST: no payload
        if marker == 0xD9:  # EOI: no payload
            break
        if pos + 2 > len(blob):
            raise ValueError("truncated JPEG segment header")
        ln = int.from_bytes(blob[pos : pos + 2], "big")
        seg = blob[pos + 2 : pos + ln]
        if len(seg) != ln - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq == 0:
                    vals = list(seg[i : i + 64])
                    i += 64
                elif pq == 1:
                    vals = [
                        int.from_bytes(seg[i + 2 * j : i + 2 * j + 2], "big")
                        for j in range(64)
                    ]
                    i += 128
                else:
                    raise ValueError("bad JPEG DQT precision")
                if len(vals) < 64:
                    raise ValueError("truncated JPEG DQT")
                qtables[tq] = vals
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                counts = seg[i + 1 : i + 17]
                nsym = sum(counts)
                symbols = seg[i + 17 : i + 17 + nsym]
                if len(symbols) < nsym:
                    raise ValueError("truncated JPEG DHT")
                htables[(tc, th)] = _build_huffman(counts, symbols)
                i += 17 + nsym
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext. seq. / progressive
            if frame is not None:
                raise ValueError("multiple JPEG frames not supported")
            if len(seg) < 6:
                raise ValueError("truncated JPEG SOF")
            prec = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if h < 1 or w < 1 or ncomp not in (1, 3):
                raise ValueError("unsupported JPEG frame geometry")
            if h * w > _MAX_PIXELS:
                raise ValueError(
                    f"JPEG dimensions {w}x{h} exceed the pure-Python "
                    f"decoder cap ({_MAX_PIXELS} px)"
                )
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if hmax < 1 or vmax < 1 or any(
                c["h"] < 1 or c["v"] < 1 or hmax % c["h"] or vmax % c["v"]
                for c in comps
            ):
                raise ValueError("unsupported JPEG sampling factors")
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for c in comps:
                # padded (MCU) grid; true grid for non-interleaved scans
                c["coef"] = np.zeros(
                    (mcuy * c["v"], mcux * c["h"], 64), np.int32
                )
                cols = -(-(w * c["h"]) // hmax)
                rows = -(-(h * c["v"]) // vmax)
                c["bw_t"] = -(-cols // 8)
                c["bh_t"] = -(-rows // 8)
            frame = (h, w)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG process (arithmetic/lossless/"
                "differential) — baseline and progressive Huffman only"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if len(seg) < 4 + 2 * ns:
                raise ValueError("truncated JPEG SOS")
            byid = {c["id"]: c for c in comps}
            scomps = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
                if cs not in byid:
                    raise ValueError("JPEG scan references unknown component")
                sc = byid[cs]
                sc["dc"] = htables.get((0, tdta >> 4))
                sc["ac"] = htables.get((1, tdta & 0x0F))
                scomps.append(sc)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not (0 <= ss <= se <= 63):
                raise ValueError("bad JPEG spectral band")
            if ns > 1 and ss != 0:
                raise ValueError("interleaved JPEG AC scan is invalid")
            for sc in scomps:
                if ss == 0 and ah == 0 and sc["dc"] is None:
                    raise ValueError("JPEG scan references missing DC table")
                if se > 0 and ah == 0 and sc["ac"] is None:
                    raise ValueError("JPEG scan references missing AC table")
                if ss > 0 and ah > 0 and sc["ac"] is None:
                    raise ValueError("JPEG scan references missing AC table")
            pos = _scan_pass(
                blob, pos + ln, scomps, ss, se, ah, al,
                restart_interval, mcux, mcuy,
            )
            nscans += 1
            # resync to the next marker (skip pad bits / fill FFs)
            while pos + 1 < len(blob):
                if blob[pos] == 0xFF and blob[pos + 1] != 0x00:
                    if blob[pos + 1] == 0xFF:
                        pos += 1
                        continue
                    break
                pos += 1
            continue
        pos += ln

    if frame is None or nscans == 0:
        raise ValueError("truncated JPEG: no SOS marker")
    return frame, comps, qtables, hmax, vmax


def decode_jpeg(blob: bytes):
    """Decode a baseline OR progressive (Huffman) JPEG -> (h, w, 3)
    uint8 RGB (grayscale files are replicated to 3 channels). Both
    processes run through one coefficient-accumulation core: baseline
    is a single full-band scan, progressive (SOF2) accumulates
    DC/AC spectral-selection and successive-approximation scans
    (T.81 Annex G) into the same per-component arrays, with one
    dequant + IDCT at the end. Raises ValueError on non-JPEG,
    truncated streams, and the arithmetic/lossless/12-bit processes."""
    import numpy as np

    (h, w), comps, qtables, hmax, vmax = _decode_coefficients(blob)
    M = _dct_mat()
    zz = np.array(_ZIGZAG)
    full = []
    for c in comps:
        qt = qtables.get(c["tq"])
        if qt is None:
            raise ValueError("JPEG component references missing DQT")
        deq = c["coef"].reshape(-1, 64).astype(np.float64) * np.asarray(
            qt, np.float64
        )
        nat = np.zeros_like(deq)
        nat[:, zz] = deq  # zigzag -> natural positions
        blocks = nat.reshape(-1, 8, 8)
        px = np.einsum("ij,njk,kl->nil", M.T, blocks, M) + 128.0
        bh, bw = c["coef"].shape[:2]
        plane = (
            px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], 0), hmax // c["h"], 1
        )
        full.append(plane[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def align(self):
        """Pad the partial byte with 1-bits (T.81 F.1.2.3)."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _quality_tables(quality: int):
    """libjpeg quality scaling of the Annex K tables."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    def scaled(base):
        return [min(255, max(1, (v * scale + 50) // 100)) for v in base]
    return scaled(_QT_LUM), scaled(_QT_CHROM)


def _encode_value_bits(v: int) -> tuple[int, int]:
    """(category, magnitude bits) for a DC diff / AC coefficient."""
    s = abs(v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _plan_quantized(rgb, quality: int, subsample: bool):
    """Shared encoder front half: color transform, sampling prep, FDCT
    and quantization. Returns (h, w, samp, qsel, qlum, qchrom, blocks)
    where blocks[ci] is an int64 array (bh_pad, bw_pad, 64) of
    quantized coefficients in ZIGZAG order over the padded MCU grid."""
    import numpy as np

    arr = np.asarray(rgb, np.float64)
    gray = arr.ndim == 2
    if gray:
        arr = arr[:, :, None]
    h, w = arr.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("empty image")
    qlum, qchrom = _quality_tables(quality)

    if gray:
        planes = [arr[:, :, 0]]
        samp = [(1, 1)]
        qsel = [0]
    else:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
        planes = [y, cb, cr]
        qsel = [0, 1, 1]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    M = _dct_mat()
    # the Annex K base tables are natural row-major 8x8 matrices
    qmats = [
        np.asarray(qlum, np.float64).reshape(8, 8),
        np.asarray(qchrom, np.float64).reshape(8, 8),
    ]
    zz = np.array(_ZIGZAG)
    blocks = []
    for ci, ((sh, sv), plane) in enumerate(zip(samp, planes)):
        if (sh, sv) != (hmax, vmax):
            fy, fx = vmax // sv, hmax // sh
            ph = -(-plane.shape[0] // fy) * fy
            pw = -(-plane.shape[1] // fx) * fx
            pad = np.pad(
                plane, ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                mode="edge",
            )
            plane = pad.reshape(ph // fy, fy, pw // fx, fx).mean((1, 3))
        th, tw = mcuy * sv * 8, mcux * sh * 8
        plane = np.pad(
            plane,
            ((0, th - plane.shape[0]), (0, tw - plane.shape[1])),
            mode="edge",
        )
        bh, bw = th // 8, tw // 8
        blk = (
            plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3) - 128.0
        )
        f = np.einsum("ij,nbjk,kl->nbil", M, blk, M.T)
        q = np.round(f / qmats[qsel[ci]]).astype(np.int64)
        blocks.append(q.reshape(bh, bw, 64)[:, :, zz])  # natural -> zigzag
    return h, w, samp, qsel, qlum, qchrom, blocks


def _encode_block_zz(writer, zvec, dc_codes, ac_codes, pred: int) -> int:
    """Baseline block coding from a zigzag-order coefficient vector."""
    dc = int(zvec[0])
    s, bits = _encode_value_bits(dc - pred)
    code, ln = dc_codes[s]
    writer.write(code, ln)
    if s:
        writer.write(bits, s)
    run = 0
    for k in range(1, 64):
        v = int(zvec[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        s, bits = _encode_value_bits(v)
        code, ln = ac_codes[(run << 4) | s]
        writer.write(code, ln)
        writer.write(bits, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        writer.write(code, ln)
    return dc


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes((0xFF, marker)) + (len(payload) + 2).to_bytes(2, "big") + payload


def _emit_headers(
    h, w, samp, qsel, qlum, qchrom, sof_marker: int, dhts, restart_interval
) -> bytearray:
    """SOI + JFIF APP0 + DQT(s) + SOF + DHT(s) + optional DRI."""
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")

    def zzq(base) -> bytes:
        # DQT payloads are serialized in zigzag order (T.81 B.2.4.1)
        return bytes(base[_ZIGZAG[i]] for i in range(64))

    out += _seg(0xDB, b"\x00" + zzq(qlum))
    ncomp = len(samp)
    if ncomp == 3:
        out += _seg(0xDB, b"\x01" + zzq(qchrom))
    sof = bytes((8,)) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes(
        (ncomp,)
    )
    for ci in range(ncomp):
        sof += bytes((ci + 1, (samp[ci][0] << 4) | samp[ci][1], qsel[ci]))
    out += _seg(sof_marker, sof)
    for tcth, table in dhts:
        out += _seg(0xC4, bytes((tcth,)) + table[0] + table[1])
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    return out


def encode_jpeg(
    rgb,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) or (h, w) uint8 array as baseline JFIF JPEG
    with the Annex K tables. ``subsample=True`` writes 4:2:0 (2x2 box-
    averaged chroma), else 4:4:4. ``restart_interval`` > 0 emits DRI +
    RSTn markers every that many MCUs (exercises the decoder's resync
    path)."""
    h, w, samp, qsel, qlum, qchrom, blocks = _plan_quantized(
        rgb, quality, subsample
    )
    ncomp = len(samp)
    mcuy = blocks[0].shape[0] // samp[0][1]
    mcux = blocks[0].shape[1] // samp[0][0]
    dc_codes = [_huffman_codes(*_HT_DC_LUM), _huffman_codes(*_HT_DC_CHROM)]
    ac_codes = [_huffman_codes(*_HT_AC_LUM), _huffman_codes(*_HT_AC_CHROM)]

    writer = _BitWriter()
    preds = [0] * ncomp
    nrst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            imcu = my * mcux + mx
            if restart_interval and imcu and imcu % restart_interval == 0:
                writer.align()
                writer.out += bytes((0xFF, 0xD0 + nrst))
                nrst = (nrst + 1) & 7
                preds = [0] * ncomp
            for ci, (sh, sv) in enumerate(samp):
                t = qsel[ci]
                for by in range(sv):
                    for bx in range(sh):
                        preds[ci] = _encode_block_zz(
                            writer,
                            blocks[ci][my * sv + by, mx * sh + bx],
                            dc_codes[t], ac_codes[t], preds[ci],
                        )
    writer.align()

    dhts = [(0x00, _HT_DC_LUM), (0x10, _HT_AC_LUM)]
    if ncomp == 3:
        dhts += [(0x01, _HT_DC_CHROM), (0x11, _HT_AC_CHROM)]
    out = _emit_headers(
        h, w, samp, qsel, qlum, qchrom, 0xC0, dhts, restart_interval
    )
    sos = bytes((ncomp,))
    for ci in range(ncomp):
        t = qsel[ci]
        sos += bytes((ci + 1, (t << 4) | t))
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, sos)
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


# flat 256-symbol AC table for progressive scans: the Annex K AC tables
# lack the EOBn symbols (0x10..0xE0) progressive end-of-band runs need,
# so the progressive encoder ships its own canonical table — 255 8-bit
# codes + one 9-bit code, every (run, size) symbol representable and
# the all-ones padding code never valid (T.81 C.2's BITS constraint).
_HT_AC_FLAT = (
    bytes((0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0)),
    bytes(range(255)) + bytes((255,)),
)


def encode_jpeg_progressive(
    rgb, quality: int = 90, subsample: bool = False
) -> bytes:
    """Encode as PROGRESSIVE (SOF2) JFIF JPEG via spectral selection:
    one interleaved DC scan (Ss=Se=0) followed by one full-band AC scan
    per component (Ss=1, Se=63), both at Ah=Al=0, with real end-of-band
    runs (EOBn) across empty blocks. The quantized coefficients are
    IDENTICAL to :func:`encode_jpeg` at the same quality/subsampling —
    the decoder must reconstruct the two encodings bit-for-bit equal,
    which is exactly what the round-trip test asserts."""
    h, w, samp, qsel, qlum, qchrom, blocks = _plan_quantized(
        rgb, quality, subsample
    )
    ncomp = len(samp)
    mcuy = blocks[0].shape[0] // samp[0][1]
    mcux = blocks[0].shape[1] // samp[0][0]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    dc_codes = [_huffman_codes(*_HT_DC_LUM), _huffman_codes(*_HT_DC_CHROM)]
    ac_flat = _huffman_codes(*_HT_AC_FLAT)

    dhts = [(0x00, _HT_DC_LUM), (0x10, _HT_AC_FLAT)]
    if ncomp == 3:
        dhts.append((0x01, _HT_DC_CHROM))
    out = _emit_headers(h, w, samp, qsel, qlum, qchrom, 0xC2, dhts, 0)

    # scan 1: interleaved DC, Ss=Se=0, Ah=Al=0
    writer = _BitWriter()
    preds = [0] * ncomp
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        dc = int(blocks[ci][my * sv + by, mx * sh + bx][0])
                        s, bits = _encode_value_bits(dc - preds[ci])
                        code, ln = dc_codes[qsel[ci]][s]
                        writer.write(code, ln)
                        if s:
                            writer.write(bits, s)
                        preds[ci] = dc
    writer.align()
    sos = bytes((ncomp,))
    for ci in range(ncomp):
        sos += bytes((ci + 1, qsel[ci] << 4))
    sos += b"\x00\x00\x00"  # Ss=0 Se=0 AhAl=0
    out += _seg(0xDA, sos)
    out += writer.out

    # one AC scan per component over its TRUE block grid, with EOBn runs
    for ci, (sh, sv) in enumerate(samp):
        cols = -(-(w * sh) // hmax)
        rows = -(-(h * sv) // vmax)
        bw_t = -(-cols // 8)
        bh_t = -(-rows // 8)
        writer = _BitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun == 0:
                return
            r = eobrun.bit_length() - 1
            code, ln = ac_flat[r << 4]
            writer.write(code, ln)
            if r:
                writer.write(eobrun - (1 << r), r)
            eobrun = 0

        for by in range(bh_t):
            for bx in range(bw_t):
                zvec = blocks[ci][by, bx]
                last = 0
                for k in range(63, 0, -1):
                    if zvec[k] != 0:
                        last = k
                        break
                if last == 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                for k in range(1, last + 1):
                    v = int(zvec[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_flat[0xF0]
                        writer.write(code, ln)
                        run -= 16
                    s, bits = _encode_value_bits(v)
                    code, ln = ac_flat[(run << 4) | s]
                    writer.write(code, ln)
                    writer.write(bits, s)
                    run = 0
                if last < 63:
                    eobrun = 1
        flush_eob()
        writer.align()
        out += _seg(0xDA, bytes((1, ci + 1, 0x00)) + b"\x01\x3f\x00")
        out += writer.out

    out += b"\xff\xd9"
    return bytes(out)
