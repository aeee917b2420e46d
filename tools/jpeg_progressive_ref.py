"""Reference progressive-JPEG ENCODER (ITU-T T.81 Annex G) — the
independent twin that tests jpeg_lite's progressive DECODER.

Written from the spec's encoder flowcharts (G.1.2.1-G.1.2.3), NOT from
the decoder: scan emission and scan parsing are independent
implementations that must meet exactly at the coefficient tensor, so a
bug in either side breaks the pixel-equality tests in
tests/test_binary_converters.py. Supports interleaved DC scans,
spectral-selection AC bands, successive approximation (DC first/refine,
AC first/refine with batched EOB runs, ZRL, buffered correction bits).

Not a production encoder: Huffman tables are flat 8-bit codes built per
scan (legal, suboptimal), there is no rate logic, and callers supply
the final quantized coefficient tensors directly.
"""

from __future__ import annotations

import struct

import numpy as np

from magicxml_spark.sources.jpeg_lite import (
    _BitWriter,
    _amplitude,
    _size_cat,
    _ZIGZAG,
)


class _ScanEmitter:
    """Two-pass symbol/bit emission: pass 1 records which Huffman
    symbols a scan uses (to build its table), pass 2 writes bits."""

    def __init__(self) -> None:
        self.events: list[tuple] = []
        self.symbols: set[int] = set()

    def sym(self, s: int) -> None:
        self.symbols.add(s)
        self.events.append(("sym", s))

    def bits(self, v: int, n: int) -> None:
        if n:
            self.events.append(("bits", v, n))

    def rst(self, n: int) -> None:
        self.events.append(("rst", n))

    def table(self) -> tuple[list[int], list[int], dict[int, tuple[int, int]]]:
        vals = sorted(self.symbols)
        bits = [0] * 16
        bits[7] = len(vals)  # every code 8 bits long (flat, legal)
        enc = {v: (i, 8) for i, v in enumerate(vals)}
        return bits, vals, enc

    def write(self, w: "_BitWriter", enc: dict[int, tuple[int, int]]) -> None:
        for ev in self.events:
            if ev[0] == "sym":
                code, length = enc[ev[1]]
                w.write(code, length)
            elif ev[0] == "rst":
                # byte-align, then RSTn — the marker is raw, not stuffed
                w.align()
                w.buf += bytes((0xFF, 0xD0 + (ev[1] & 7)))
            else:
                w.write(ev[1], ev[2])


def _emit_dc_scan(em: _ScanEmitter, coef, comps, sel, mcux, mcuy, ah, al,
                  restart_interval=0):
    preds = {ci: 0 for ci in sel}
    n_mcu = 0
    n_rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                em.rst(n_rst)
                n_rst = (n_rst + 1) & 7
                preds = {ci: 0 for ci in sel}
            n_mcu += 1
            for ci in sel:
                _, hs, vs, _ = comps[ci]
                for dy in range(vs):
                    for dx in range(hs):
                        v = int(coef[ci][my * vs + dy, mx * hs + dx, 0])
                        if ah == 0:
                            t = v >> al  # DC point transform = arith shift
                            diff = t - preds[ci]
                            preds[ci] = t
                            s = _size_cat(diff)
                            em.sym(s)
                            em.bits(_amplitude(diff, s), s)
                        else:
                            em.bits((v >> al) & 1, 1)


def _emit_dc_scan_noninterleaved(em, coef, ci, bh, bw, ah, al, restart_interval=0):
    pred = 0
    n_blk = 0
    n_rst = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and n_blk and n_blk % restart_interval == 0:
                em.rst(n_rst)
                n_rst = (n_rst + 1) & 7
                pred = 0
            n_blk += 1
            v = int(coef[ci][by, bx, 0])
            if ah == 0:
                t = v >> al
                diff = t - pred
                pred = t
                s = _size_cat(diff)
                em.sym(s)
                em.bits(_amplitude(diff, s), s)
            else:
                em.bits((v >> al) & 1, 1)


class _EobState:
    def __init__(self, em: _ScanEmitter) -> None:
        self.em = em
        self.run = 0
        self.br: list[int] = []  # correction bits buffered with the run

    def flush(self) -> None:
        if self.run:
            n = self.run.bit_length() - 1
            self.em.sym(n << 4)
            self.em.bits(self.run - (1 << n), n)
            self.run = 0
        for b in self.br:
            self.em.bits(b, 1)
        self.br = []


def _emit_ac_first(em, eob: _EobState, band, al):
    """One block's AC-first emission over zigzag band values."""
    t = [
        (1 if v >= 0 else -1) * (abs(int(v)) >> al) for v in band
    ]  # AC point transform preserves sign symmetry (G.1.2.2)
    r = 0
    emitted = False
    for v in t:
        if v == 0:
            r += 1
            continue
        if not emitted:
            eob.flush()
            emitted = True
        while r > 15:
            em.sym(0xF0)
            r -= 16
        s = _size_cat(v)
        em.sym((r << 4) | s)
        em.bits(_amplitude(v, s), s)
        r = 0
    if r > 0 or not emitted:
        eob.run += 1
        if eob.run == 0x7FFF:
            eob.flush()


def _emit_ac_refine(em, eob: _EobState, band, signs, al):
    """One block's AC-refinement emission (G.1.2.3 / spec flowcharts):
    absolute values shifted to this precision; 1 = newly nonzero
    (emit (r,1)+sign), >1 = history nonzero (buffer the next magnitude
    bit); zero-run counts ONLY zero-history positions."""
    absv = [abs(int(v)) >> al for v in band]
    eobpos = -1
    for k, a in enumerate(absv):
        if a == 1:
            eobpos = k
    r = 0
    br: list[int] = []
    emitted = False
    for k, a in enumerate(absv):
        if a == 0:
            r += 1
            continue
        # ZRLs fire at ANY nonzero (corrections included) so buffered
        # bits never span past the 16 zeros a ZRL covers — the decoder
        # reads them during exactly that ZRL's advance; runs past the
        # last newly-nonzero fold into the EOB run instead
        while r > 15 and k <= eobpos:
            eob.flush()
            emitted = True
            em.sym(0xF0)
            r -= 16
            for b in br:
                em.bits(b, 1)
            br = []
        if a > 1:
            br.append(a & 1)
            continue
        # newly nonzero (a == 1)
        eob.flush()
        emitted = True
        em.sym((r << 4) | 1)
        em.bits(1 if signs[k] >= 0 else 0, 1)
        for b in br:
            em.bits(b, 1)
        br = []
        r = 0
    if r > 0 or br or not emitted:
        eob.run += 1
        eob.br.extend(br)
        if eob.run == 0x7FFF:
            eob.flush()


def _seg(marker: int, body: bytes) -> bytes:
    return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body


def encode_progressive(
    w: int,
    h: int,
    comps: list[tuple[int, int, int, int]],
    qtables: dict[int, np.ndarray],
    coef: list[np.ndarray],
    scans: list[tuple[list[int], int, int, int, int]],
    restart_interval: int = 0,
) -> bytes:
    """Assemble a progressive JPEG carrying exactly ``coef`` (per comp:
    (bh_pad, bw_pad, 64) zigzag ints). ``scans`` = (component indices,
    Ss, Se, Ah, Al); successive approximation must step Al one bit per
    refinement with Ah = previous Al, ending at Al=0, per the spec.
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many blocks/MCUs in every scan (predictors and EOB runs reset
    at each, per F.2.1.3/G.1)."""
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    out = bytearray(b"\xff\xd8")
    for tq, q in sorted(qtables.items()):
        zz = np.asarray(q).reshape(64)[_ZIGZAG].astype(np.uint8)
        out += _seg(0xDB, bytes([tq]) + zz.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        sof += bytes((cid, (hs << 4) | vs, tq))
    out += _seg(0xC2, sof)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    for sel, ss, se, ah, al in scans:
        em = _ScanEmitter()
        is_dc = ss == 0
        if is_dc and len(sel) > 1:
            _emit_dc_scan(
                em, coef, comps, sel, mcux, mcuy, ah, al, restart_interval
            )
        elif is_dc:
            ci = sel[0]
            _, hs, vs, _ = comps[ci]
            cw = (w * hs + hmax - 1) // hmax
            ch = (h * vs + vmax - 1) // vmax
            _emit_dc_scan_noninterleaved(
                em, coef, ci, (ch + 7) // 8, (cw + 7) // 8, ah, al,
                restart_interval,
            )
        else:
            ci = sel[0]
            _, hs, vs, _ = comps[ci]
            cw = (w * hs + hmax - 1) // hmax
            ch = (h * vs + vmax - 1) // vmax
            bh, bw = (ch + 7) // 8, (cw + 7) // 8
            eob = _EobState(em)
            n_blk = 0
            n_rst = 0
            for by in range(bh):
                for bx in range(bw):
                    if restart_interval and n_blk and n_blk % restart_interval == 0:
                        eob.flush()
                        em.rst(n_rst)
                        n_rst = (n_rst + 1) & 7
                    n_blk += 1
                    band = coef[ci][by, bx, ss : se + 1]
                    if ah == 0:
                        _emit_ac_first(em, eob, band, al)
                    else:
                        _emit_ac_refine(em, eob, band, band, al)
            eob.flush()
        bits, vals, enc = em.table()
        cls = 0 if is_dc else 1
        if ah != 0 and is_dc:
            pass  # DC refinement scans carry no Huffman symbols
        else:
            out += _seg(0xC4, bytes([cls << 4]) + bytes(bits) + bytes(vals))
        sos = bytes([len(sel)])
        for ci in sel:
            sos += bytes((comps[ci][0], 0))  # Td=0, Ta=0 (dest 0 per class)
        sos += bytes((ss, se, (ah << 4) | al))
        out += _seg(0xDA, sos)
        wtr = _BitWriter()
        em.write(wtr, enc)
        out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_baseline_from_coef(
    w: int,
    h: int,
    comps: list[tuple[int, int, int, int]],
    qtables: dict[int, np.ndarray],
    coef: list[np.ndarray],
) -> bytes:
    """SOF0 single-scan twin carrying the SAME coefficient tensor —
    decode(progressive) must equal decode(baseline) bit-for-bit, since
    both meet at the coefficients and share the decoder's IDCT tail."""
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    em_dc = _ScanEmitter()
    em_ac = _ScanEmitter()
    em_all = _ScanEmitter()  # interleaved event stream

    def _mark(em_cls, s):
        em_cls.symbols.add(s)
        em_all.events.append(("sym", id(em_cls), s))

    preds = [0] * len(comps)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (_, hs, vs, _) in enumerate(comps):
                for dy in range(vs):
                    for dx in range(hs):
                        blk = coef[ci][my * vs + dy, mx * hs + dx]
                        v0 = int(blk[0])
                        diff = v0 - preds[ci]
                        preds[ci] = v0
                        s = _size_cat(diff)
                        _mark(em_dc, s)
                        em_all.events.append(("bits", _amplitude(diff, s), s))
                        r = 0
                        for k in range(1, 64):
                            v = int(blk[k])
                            if v == 0:
                                r += 1
                                continue
                            while r > 15:
                                _mark(em_ac, 0xF0)
                                r -= 16
                            sz = _size_cat(v)
                            _mark(em_ac, (r << 4) | sz)
                            em_all.events.append(("bits", _amplitude(v, sz), sz))
                            r = 0
                        if r > 0:
                            _mark(em_ac, 0x00)
    _, dc_vals, dc_enc = em_dc.table()
    _, ac_vals, ac_enc = em_ac.table()
    out = bytearray(b"\xff\xd8")
    for tq, q in sorted(qtables.items()):
        zz = np.asarray(q).reshape(64)[_ZIGZAG].astype(np.uint8)
        out += _seg(0xDB, bytes([tq]) + zz.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, tq in comps:
        sof += bytes((cid, (hs << 4) | vs, tq))
    out += _seg(0xC0, sof)
    dc_bits = [0] * 16
    dc_bits[7] = len(dc_vals)
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)
    out += _seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
    out += _seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    sos = bytes([len(comps)])
    for cid, _, _, _ in comps:
        sos += bytes((cid, 0x00))
    sos += bytes((0, 63, 0))
    out += _seg(0xDA, sos)
    wtr = _BitWriter()
    for ev in em_all.events:
        if ev[0] == "sym":
            enc = dc_enc if ev[1] == id(em_dc) else ac_enc
            code, length = enc[ev[2]]
            wtr.write(code, length)
        else:
            wtr.write(ev[1], ev[2])
    out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)
