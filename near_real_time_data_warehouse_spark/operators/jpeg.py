"""Dependency-free baseline + progressive JPEG (JFIF) decoder.

The codec everyone assumes needs a library, implemented from the spec
on numpy: marker segment walking, 8-bit quantization tables, canonical
Huffman table reconstruction from DHT bits/values, entropy-coded scans
with byte unstuffing and restart markers, DC-differential + run/length
AC coefficient decoding in zigzag order, dequantization, a separable
orthonormal 8×8 IDCT, sampling-factor plane assembly with chroma
upsampling, and JFIF YCbCr→RGB.

Scans decode into per-component COEFFICIENT arrays and pixels
materialize once at the end, so one engine covers every DCT Huffman
process: SOF0 baseline and SOF1 extended sequential (interleaved or
per-component multi-scan), and SOF2 progressive — spectral selection
(DC/AC band scans) and successive approximation (first + refinement
scans, including EOB-run coding and AC correction bits) per ITU T.81
Annex G. SOF3 LOSSLESS (process 14, T.81 Annex H) decodes on a
separate sample-domain path: the seven spatial predictors, point
transform, mod-2^16 reconstruction, SSSS 0–16 difference coding with
the DC Huffman tables, restart-interval predictor resets, interleaved
or per-component scans; 3-component lossless is emitted as direct RGB
(T.81 defines no color transform for lossless; DNG/TIFF-EP store
components directly). 8-bit sample precision, 1 or 3 components, 8-
and 16-bit quantization tables, divisible sampling factors 1–4,
DRI/RSTn restarts. Hierarchical/arithmetic-coded processes,
non-8-bit-precision lossless, subsampled lossless, and non-divisible
sampling ratios raise ``DecodeNotAvailable`` — valid files this
decoder doesn't cover, not parse failures (rationale per gate in
COVERAGE.md); everything else malformed raises ``MalformedMedia``.

Determinism note: the IDCT is float64 but every consumer quantizes to
uint8 through the same numpy expressions, so decoded pixels are
reproducible across runs/machines for a fixed payload.

Output is the shared {width, height, pixels(RGB)} shape of
operators/multimodal.py, so features/aHash/near-dup work on JPEGs
unchanged.
"""

from __future__ import annotations

import numpy as np


def _errors():
    from .multimodal import DecodeNotAvailable, MalformedMedia

    return MalformedMedia, DecodeNotAvailable


def zigzag_order() -> list[int]:
    """The 64 zigzag positions, generated (not transcribed) by walking
    the anti-diagonals of the 8×8 block."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(d, 7) + 1)
        cells = [(d - j, j) for j in rng]
        if d % 2 == 0:
            cells.reverse()
        order += [r * 8 + c for r, c in cells]
    return order


_ZIGZAG = zigzag_order()

_IDCT_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


class _Huffman:
    """Canonical Huffman table from DHT (bits per length, values)."""

    def __init__(self, bits: list[int], values: bytes):
        MalformedMedia, _ = _errors()
        if sum(bits) != len(values):
            raise MalformedMedia("DHT bits/values mismatch")
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lookup[(length, code)] = values[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, reader: "_BitReader") -> int:
        MalformedMedia, _ = _errors()
        code = 0
        for length in range(1, 17):
            code = (code << 1) | reader.bit()
            sym = self.lookup.get((length, code))
            if sym is not None:
                return sym
        raise MalformedMedia("invalid Huffman code in scan")


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with FF00
    unstuffing; RST markers reset the stream at restart intervals."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        MalformedMedia, _ = _errors()
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise MalformedMedia("entropy data exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise MalformedMedia("dangling FF in scan")
                marker = self.data[self.pos]
                if marker == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise MalformedMedia("unexpected marker inside scan")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_restart(self) -> None:
        """Skip to just past the next RSTn marker."""
        MalformedMedia, _ = _errors()
        self.nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise MalformedMedia("expected restart marker")


def _extend(value: int, size: int) -> int:
    """JPEG signed-magnitude extension of a ``size``-bit received value."""
    if size == 0:
        return 0
    if value < (1 << (size - 1)):
        return value - (1 << size) + 1
    return value


def _scan_end(payload: bytes, pos: int) -> int:
    """First offset at or after ``pos`` holding a real marker (not a
    stuffed FF00, not an RSTn) — where the entropy-coded segment ends."""
    p = pos
    while p + 1 < len(payload):
        if (
            payload[p] == 0xFF
            and payload[p + 1] != 0x00
            and not (0xD0 <= payload[p + 1] <= 0xD7)
        ):
            return p
        p += 1
    return len(payload)


def _block_baseline(reader, dc_tbl, ac_tbl, blk, pred, cid) -> None:
    """One sequential data unit: DC diff + run/length AC into zigzag
    coefficient order (T.81 F.2.2)."""
    MalformedMedia, _ = _errors()
    size = dc_tbl.decode(reader)
    if size > 11:
        raise MalformedMedia("DC category out of range")
    pred[cid] += _extend(reader.receive(size), size)
    blk[0] = pred[cid]
    k = 1
    while k < 64:
        rs = ac_tbl.decode(reader)
        run, ssss = rs >> 4, rs & 0x0F
        if ssss == 0:
            if run == 15:
                k += 16  # ZRL
                continue
            break  # EOB
        k += run
        if k > 63:
            raise MalformedMedia("AC run past block end")
        blk[k] = _extend(reader.receive(ssss), ssss)
        k += 1


def _block_dc_first(reader, dc_tbl, blk, pred, cid, al: int) -> None:
    """Progressive DC, first scan: diffs of DC>>Al accumulate in the
    shifted domain (T.81 G.1.2.1)."""
    MalformedMedia, _ = _errors()
    size = dc_tbl.decode(reader)
    if size > 11:
        raise MalformedMedia("DC category out of range")
    pred[cid] += _extend(reader.receive(size), size)
    blk[0] = pred[cid] << al


def _block_dc_refine(reader, blk, al: int) -> None:
    """Progressive DC refinement: one bit per block ORs in bit Al —
    exact for negative values too (two's-complement low bits)."""
    if reader.bit():
        blk[0] = int(blk[0]) | (1 << al)


def _block_ac_first(reader, ac_tbl, blk, ss, se, al, eobrun) -> int:
    """Progressive AC, first scan of a spectral band: run/length coding
    plus EOBn end-of-band run codes (T.81 G.1.2.2)."""
    MalformedMedia, _ = _errors()
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = ac_tbl.decode(reader)
        run, ssss = rs >> 4, rs & 0x0F
        if ssss == 0:
            if run == 15:
                k += 16  # ZRL
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += reader.receive(run)
            break
        k += run
        if k > se:
            raise MalformedMedia("AC run past band end")
        blk[k] = _extend(reader.receive(ssss), ssss) << al
        k += 1
    return eobrun


def _block_ac_refine(reader, ac_tbl, blk, ss, se, al, eobrun) -> int:
    """Progressive AC refinement (T.81 G.1.2.3): newly-nonzero
    coefficients arrive as ±1<<Al; every already-nonzero coefficient
    traversed consumes a correction bit that, when set, grows its
    magnitude by 1<<Al."""
    MalformedMedia, _ = _errors()
    p1 = 1 << al
    m1 = -(1 << al)

    def correct(pos: int) -> None:
        v = int(blk[pos])
        if reader.bit() and (v & p1) == 0:
            blk[pos] = v + (p1 if v >= 0 else m1)

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = ac_tbl.decode(reader)
            run, ssss = rs >> 4, rs & 0x0F
            coeff = 0
            if ssss == 0:
                if run < 15:
                    # EOBn includes the CURRENT block: its remaining
                    # nonzero-history coefficients still consume
                    # correction bits in the traversal below.
                    eobrun = 1 << run
                    if run:
                        eobrun += reader.receive(run)
                    break
                # run == 15: ZRL — skip 16 zero-history positions
            else:
                if ssss != 1:
                    raise MalformedMedia("AC refinement size must be 1")
                coeff = p1 if reader.bit() else m1
            while k <= se:
                if blk[k] != 0:
                    correct(k)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if coeff and k <= se:
                blk[k] = coeff
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def parse_jpeg(payload: bytes) -> dict:
    MalformedMedia, DecodeNotAvailable = _errors()
    if payload is None or payload[:2] != b"\xff\xd8":
        raise MalformedMedia("not a JPEG payload (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huffman] = {}
    huff_ac: dict[int, _Huffman] = {}
    sof = None
    progressive = False
    restart_interval = 0
    coef: dict[int, np.ndarray] = {}   # cid -> (bh_pad, bw_pad, 64) zigzag
    geo: dict[int, dict] = {}          # per-component block geometry
    by_id: dict[int, dict] = {}
    scanned: set[int] = set()
    samples: dict[int, np.ndarray] = {}  # lossless: cid -> (h, w) samples
    pt_by_comp: dict[int, int] = {}      # lossless: per-scan point transform

    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise MalformedMedia(f"expected marker at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7:  # stray RSTn outside a scan
            pos += 2
            continue
        if marker == 0x01 or marker == 0xFF:  # TEM / fill byte
            pos += 2 if marker == 0x01 else 1
            continue
        if pos + 4 > len(payload):
            raise MalformedMedia("truncated marker segment header")
        length = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if length < 2:
            raise MalformedMedia(f"segment FF{marker:02X} with bad length")
        body = payload[pos + 4 : pos + 2 + length]
        if len(body) < length - 2:
            raise MalformedMedia(f"segment FF{marker:02X} truncated")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                if pq not in (0, 1):
                    raise MalformedMedia("bad DQT precision")
                step = 1 + pq  # 8- or 16-bit entries
                if p + 1 + 64 * step > len(body):
                    raise MalformedMedia("DQT truncated")
                tbl = np.zeros(64)
                for i in range(64):
                    off = p + 1 + i * step
                    v = body[off] if pq == 0 else int.from_bytes(
                        body[off : off + 2], "big"
                    )
                    tbl[_ZIGZAG[i]] = v
                qt[tq] = tbl.reshape(8, 8)
                p += 1 + 64 * step
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                values = bytes(body[p + 17 : p + 17 + n])
                if len(values) < n:
                    raise MalformedMedia("DHT values truncated")
                table = _Huffman(bits, values)
                (huff_dc if tc == 0 else huff_ac)[th] = table
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            if sof is not None:
                raise MalformedMedia("multiple SOF segments")
            progressive = marker == 0xC2
            if len(body) < 6:
                raise MalformedMedia("SOF truncated")
            if body[0] != 8:
                raise DecodeNotAvailable("non-8-bit JPEG precision")
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if nc not in (1, 3):
                raise DecodeNotAvailable(f"{nc}-component JPEG")
            if len(body) < 6 + 3 * nc:
                raise MalformedMedia("SOF component list truncated")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i], body[7 + 3 * i], body[8 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            if len({c["id"] for c in comps}) != nc:
                raise MalformedMedia("duplicate component ids in SOF")
            sof = {"w": w, "h": h, "comps": comps}
            if w < 1 or h < 1 or w * h > (1 << 22):
                raise MalformedMedia("nonsensical JPEG dimensions")
            if not all(
                1 <= c["h"] <= 4 and 1 <= c["v"] <= 4 for c in comps
            ):
                raise MalformedMedia("sampling factors out of spec range 1-4")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if not all(
                hmax % c["h"] == 0 and vmax % c["v"] == 0 for c in comps
            ):
                # valid but needs fractional chroma upsampling
                raise DecodeNotAvailable(
                    "non-divisible sampling factor ratios not supported"
                )
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            sof.update({"hmax": hmax, "vmax": vmax,
                        "mcus_x": mcus_x, "mcus_y": mcus_y})
            by_id = {c["id"]: c for c in comps}
            for c in comps:
                # padded to whole MCUs (interleaved scans write there);
                # non-interleaved scans cover the smaller true block grid
                bw_pad, bh_pad = mcus_x * c["h"], mcus_y * c["v"]
                cw = (w * c["h"] + hmax - 1) // hmax
                chh = (h * c["v"] + vmax - 1) // vmax
                geo[c["id"]] = {
                    "bw": (cw + 7) // 8, "bh": (chh + 7) // 8,
                    "bw_pad": bw_pad, "bh_pad": bh_pad,
                }
                # int64, not int32: a crafted progressive DC scan can
                # accumulate pred to ~2047 * 65536 blocks and shift by
                # Al up to 13 — past int32, numpy>=2 raises OverflowError
                # which would escape the quarantine catch.  int64 holds
                # the worst case (~1.1e12) with huge margin.
                coef[c["id"]] = np.zeros((bh_pad, bw_pad, 64), dtype=np.int64)
        elif marker == 0xC3:  # SOF3 lossless sequential Huffman (Annex H)
            if sof is not None:
                raise MalformedMedia("multiple SOF segments")
            if len(body) < 6:
                raise MalformedMedia("SOF truncated")
            if body[0] != 8:
                # spec allows 2-16 bits; the engine's pixel contract is
                # 8-bit RGB, so deeper samples quarantine (COVERAGE.md)
                raise DecodeNotAvailable("non-8-bit lossless JPEG precision")
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if nc not in (1, 3):
                raise DecodeNotAvailable(f"{nc}-component JPEG")
            if len(body) < 6 + 3 * nc:
                raise MalformedMedia("SOF component list truncated")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i], body[7 + 3 * i], body[8 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            if len({c["id"] for c in comps}) != nc:
                raise MalformedMedia("duplicate component ids in SOF")
            if w < 1 or h < 1 or w * h > (1 << 22):
                raise MalformedMedia("nonsensical JPEG dimensions")
            if not all(c["h"] == 1 and c["v"] == 1 for c in comps):
                # valid per spec but unseen in practice for lossless
                raise DecodeNotAvailable("subsampled lossless JPEG")
            sof = {"w": w, "h": h, "comps": comps, "lossless": True}
            by_id = {c["id"]: c for c in comps}
            for c in comps:
                samples[c["id"]] = np.zeros((h, w), dtype=np.int64)
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise DecodeNotAvailable(
                f"JPEG SOF type FF{marker:02X} (hierarchical/arithmetic "
                "processes not supported; rationale in COVERAGE.md)"
            )
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise MalformedMedia("DRI truncated")
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS — decode the scan in place
            if sof is None:
                raise MalformedMedia("SOS before SOF")
            if not body:
                raise MalformedMedia("empty SOS")
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3:
                raise MalformedMedia("SOS header truncated")
            scan = []
            for i in range(ns):
                cs, tables = body[1 + 2 * i], body[2 + 2 * i]
                if cs not in by_id:
                    raise MalformedMedia("scan references unknown component")
                scan.append({"id": cs, "dc": tables >> 4, "ac": tables & 0x0F})
            if len({sc["id"] for sc in scan}) != ns:
                raise MalformedMedia("duplicate component in SOS")
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if sof.get("lossless"):
                # Ss = predictor selector, Al = point transform (< P)
                if not (1 <= ss <= 7) or se != 0 or ah != 0 or al > 7:
                    raise MalformedMedia("bad lossless scan parameters")
                for sc in scan:
                    if sc["dc"] not in huff_dc:
                        raise MalformedMedia(
                            "scan references missing DC Huffman table"
                        )
                reader = _BitReader(payload, pos + 2 + length)
                _decode_lossless_scan(
                    reader, scan, sof, samples, huff_dc,
                    restart_interval, ss, al,
                )
                for sc in scan:
                    pt_by_comp[sc["id"]] = al
                scanned.update(sc["id"] for sc in scan)
                pos = _scan_end(payload, reader.pos)
                continue
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise MalformedMedia("sequential scan with progressive header")
            if progressive:
                if ss > 63 or se > 63 or ss > se or al > 13 or ah > 13:
                    raise MalformedMedia("bad progressive scan parameters")
                if ss == 0 and se != 0:
                    raise MalformedMedia("progressive DC scan with Se != 0")
                if ss > 0 and ns != 1:
                    raise MalformedMedia(
                        "progressive AC scan must cover exactly one component"
                    )
                if ah and ah != al + 1:
                    raise MalformedMedia("refinement must reveal one bit")
            reader = _BitReader(payload, pos + 2 + length)
            _decode_scan(
                reader, scan, sof, geo, by_id, coef, huff_dc, huff_ac,
                restart_interval, progressive, ss, se, ah, al,
            )
            scanned.update(sc["id"] for sc in scan)
            pos = _scan_end(payload, reader.pos)
            continue
        # APPn / COM / anything else: skip
        pos = pos + 2 + length

    if sof is None or not scanned:
        raise MalformedMedia("missing SOF or SOS")
    missing = {c["id"] for c in sof["comps"]} - scanned
    if missing:
        raise MalformedMedia("components never covered by any scan")

    if sof.get("lossless"):
        # Sample-domain assembly: undo the point transform; clip keeps
        # the uint8 contract even for crafted mod-2^16 reconstructions.
        planes = [
            np.clip(
                samples[c["id"]] << pt_by_comp[c["id"]], 0, 255
            ).astype(np.uint8)
            for c in sof["comps"]
        ]
        if len(planes) == 1:
            rgb = np.repeat(planes[0][:, :, None], 3, axis=2)
        else:
            rgb = np.stack(planes, axis=2)  # direct RGB, no transform
        return {
            "width": sof["w"], "height": sof["h"], "format": "jpeg",
            "pixels": rgb.tobytes(),
        }

    # Materialize pixels: scatter zigzag -> natural order, dequantize,
    # batched separable IDCT (identical 8x8 matmuls to the per-block
    # form), assemble planes, upsample, crop, color-convert.
    w, h = sof["w"], sof["h"]
    hmax, vmax = sof["hmax"], sof["vmax"]
    full = []
    for c in sof["comps"]:
        if c["tq"] not in qt:
            raise MalformedMedia("component references missing DQT")
        arr = coef[c["id"]]
        bh_pad, bw_pad = arr.shape[0], arr.shape[1]
        natural = np.zeros((bh_pad, bw_pad, 64))
        natural[..., _ZIGZAG] = arr
        deq = natural.reshape(bh_pad, bw_pad, 8, 8) * qt[c["tq"]][None, None]
        px = _IDCT_C.T @ deq @ _IDCT_C + 128.0
        plane = px.transpose(0, 2, 1, 3).reshape(bh_pad * 8, bw_pad * 8)
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        full.append(plane[:h, :w])
    if len(full) == 1:
        gray = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
    else:
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.clip(np.rint(np.stack([r, g, b], axis=2)), 0, 255).astype(
            np.uint8
        )
    return {"width": w, "height": h, "format": "jpeg", "pixels": rgb.tobytes()}


def _decode_lossless_scan(
    reader, scan, sof, samples, huff_dc, restart_interval, psel, pt,
) -> None:
    """Decode one lossless (SOF3) scan per T.81 Annex H.

    Differences are SSSS-coded with the DC Huffman tables (SSSS 16 means
    +32768, no extra bits); reconstruction is modulo 2^16 in the
    point-transformed domain. Predictor selection (H.1.2): the first
    sample of the scan AND of each restart interval predicts from the
    default 2^(P-Pt-1); the rest of that line predicts from Ra (left);
    the first sample of every other line from Rb (above); all other
    samples from the scan-header-selected predictor 1-7. All components
    here are 1x1-sampled (gated in SOF3), so the interleaved MCU is one
    sample per component and a single raster walk serves both ns==1 and
    interleaved scans."""
    w, h = sof["w"], sof["h"]
    default = 1 << (8 - pt - 1)
    tables = {sc["id"]: huff_dc[sc["dc"]] for sc in scan}

    def diff(table):
        s = table.decode(reader)
        if s == 16:
            return 32768
        return _extend(reader.receive(s), s)

    def predict(arr, y, x, start):
        if y * w + x == start:
            return default
        if y == start // w:
            return int(arr[y, x - 1])  # Ra for the interval's first line
        if x == 0:
            return int(arr[y - 1, 0])  # Rb at line starts
        a, b = int(arr[y, x - 1]), int(arr[y - 1, x])
        if psel == 1:
            return a
        if psel == 2:
            return b
        c = int(arr[y - 1, x - 1])
        if psel == 3:
            return c
        if psel == 4:
            return a + b - c
        if psel == 5:
            return a + ((b - c) >> 1)
        if psel == 6:
            return b + ((a - c) >> 1)
        return (a + b) >> 1

    start = {sc["id"]: 0 for sc in scan}
    for n in range(w * h):
        if restart_interval and n and n % restart_interval == 0:
            reader.align_to_restart()
            for sc in scan:
                start[sc["id"]] = n
        y, x = divmod(n, w)
        for sc in scan:
            arr = samples[sc["id"]]
            d = diff(tables[sc["id"]])
            arr[y, x] = (predict(arr, y, x, start[sc["id"]]) + d) & 0xFFFF


def _decode_scan(
    reader, scan, sof, geo, by_id, coef, huff_dc, huff_ac,
    restart_interval, progressive, ss, se, ah, al,
) -> None:
    """Decode one entropy-coded scan into the coefficient arrays.

    ns == 1 -> non-interleaved: data units walk the component's own
    (bh, bw) block grid. ns > 1 -> interleaved: MCU walk, v x h blocks
    per component per MCU (T.81 A.2). Restart markers reset DC
    predictors and the EOB run every ``restart_interval`` units."""
    MalformedMedia, _ = _errors()
    need_dc = (not progressive) or (ss == 0 and ah == 0)
    need_ac = (not progressive) or ss > 0
    for sc in scan:
        if need_dc and sc["dc"] not in huff_dc:
            raise MalformedMedia("scan references missing DC Huffman table")
        if need_ac and sc["ac"] not in huff_ac:
            raise MalformedMedia("scan references missing AC Huffman table")

    state = {"pred": {sc["id"]: 0 for sc in scan}, "eobrun": 0, "units": 0}

    def unit_boundary() -> None:
        if (
            restart_interval
            and state["units"]
            and state["units"] % restart_interval == 0
        ):
            reader.align_to_restart()
            state["pred"] = {sc["id"]: 0 for sc in scan}
            state["eobrun"] = 0

    def decode_block(sc, blk) -> None:
        cid = sc["id"]
        if not progressive:
            _block_baseline(
                reader, huff_dc[sc["dc"]], huff_ac[sc["ac"]], blk,
                state["pred"], cid,
            )
        elif ss == 0 and ah == 0:
            _block_dc_first(reader, huff_dc[sc["dc"]], blk, state["pred"], cid, al)
        elif ss == 0:
            _block_dc_refine(reader, blk, al)
        elif ah == 0:
            state["eobrun"] = _block_ac_first(
                reader, huff_ac[sc["ac"]], blk, ss, se, al, state["eobrun"]
            )
        else:
            state["eobrun"] = _block_ac_refine(
                reader, huff_ac[sc["ac"]], blk, ss, se, al, state["eobrun"]
            )

    if len(scan) == 1:
        sc = scan[0]
        g = geo[sc["id"]]
        arr = coef[sc["id"]]
        for by in range(g["bh"]):
            for bx in range(g["bw"]):
                unit_boundary()
                decode_block(sc, arr[by, bx])
                state["units"] += 1
    else:
        for my in range(sof["mcus_y"]):
            for mx in range(sof["mcus_x"]):
                unit_boundary()
                for sc in scan:
                    comp = by_id[sc["id"]]
                    arr = coef[sc["id"]]
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            decode_block(
                                sc, arr[my * comp["v"] + by, mx * comp["h"] + bx]
                            )
                state["units"] += 1
