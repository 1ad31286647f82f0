"""AVC (H.264) stream metadata + the I_PCM sample coding layer, in
pure stdlib/numpy.

Entropy-coded pixel DECODE of AVC/HEVC stays out of scope (a
conformant CAVLC/CABAC + inter decoder needs a media library;
``operators/mp4.py`` raises loudly). Two layers ARE in scope:

1. The layer BELOW decode, which a 100-TB video corpus job needs on
   every payload: what codec is this, what profile/level (can the
   downstream decoder fleet even play it?), what coded dimensions,
   what chroma format — the routing/cataloging pass that decides
   which payloads go to which decode pool and dedups obvious
   container-level twins. That layer is a bit-exact, fully-specified
   parse (ISO/IEC 14496-10 §7.3.2.1.1 seq_parameter_set_rbsp + the
   14496-15 AVCDecoderConfigurationRecord).
2. The I_PCM intra subset (§7.3.5) — raw byte-aligned macroblock
   samples, fully conformant H.264 that round-trips bit-exactly —
   encoded and decoded at the bottom of this module, which gives the
   near-dup family a real AVC corpus leg without a codec library.

- :func:`parse_sps` — exp-Golomb walk of one SPS RBSP: profile/level,
  chroma format, bit depths, and the EXACT display dimensions
  (macroblock grid minus frame cropping, with the spec's per-chroma
  crop units; interlaced map units handled via frame_mbs_only_flag).
- :func:`parse_avcc` — the avcC box payload: configuration version,
  profile/level bytes, NAL length size, and the embedded SPS list
  (each parsed via :func:`parse_sps`).
- :func:`annexb_sps` — locate the SPS NAL in an Annex-B elementary
  stream (start-code scan + emulation-prevention strip).

Corrupt/truncated payloads raise ValueError only — the same
fall-to-stub contract every decoder in this package honors.
"""

from __future__ import annotations

import struct

# profiles whose SPS carries the chroma/bit-depth extension block
# (14496-10 table A-1 high profiles et al.)
_EXTENDED_PROFILES = {
    100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135,
}


class _BitReader:
    """MSB-first bit reader with ue(v)/se(v) exp-Golomb decodes."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        out = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("SPS truncated mid-field")
            out = (out << 1) | (
                (self.data[byte] >> (7 - (self.pos & 7))) & 1
            )
            self.pos += 1
        return out

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("invalid exp-Golomb code in SPS")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)


def _strip_emulation(rbsp: bytes) -> bytes:
    """Remove emulation-prevention bytes (00 00 03 → 00 00)."""
    out = bytearray()
    i = 0
    while i < len(rbsp):
        if (
            i + 2 < len(rbsp)
            and rbsp[i] == 0
            and rbsp[i + 1] == 0
            and rbsp[i + 2] == 3
        ):
            out += rbsp[i : i + 2]
            i += 3
        else:
            out.append(rbsp[i])
            i += 1
    return bytes(out)


def _skip_scaling_list(r: _BitReader, size: int) -> None:
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        last = last if nxt == 0 else nxt


def parse_sps(sps: bytes) -> dict:
    """Parse one SPS NAL (header byte included) → metadata dict with
    the exact coded+cropped dimensions. Raises ValueError on anything
    that is not a well-formed SPS."""
    if not sps:
        raise ValueError("empty SPS")
    if sps[0] & 0x1F != 7:
        raise ValueError(
            f"not an SPS NAL (nal_unit_type={sps[0] & 0x1F})"
        )
    r = _BitReader(_strip_emulation(sps[1:]))
    profile_idc = r.u(8)
    constraint_flags = r.u(8)
    level_idc = r.u(8)
    r.ue()  # seq_parameter_set_id
    chroma_format_idc = 1  # 4:2:0 default for non-extended profiles
    separate_planes = 0
    bit_depth_luma = bit_depth_chroma = 8
    if profile_idc in _EXTENDED_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            separate_planes = r.u(1)
        bit_depth_luma = r.ue() + 8
        bit_depth_chroma = r.ue() + 8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            for i in range(8 if chroma_format_idc != 3 else 12):
                if r.u(1):
                    _skip_scaling_list(r, 16 if i < 6 else 64)
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    log2_max_poc_lsb = 0
    if poc_type == 0:
        log2_max_poc_lsb = r.ue() + 4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):
            r.se()  # offset_for_ref_frame[i]
    r.ue()  # max_num_ref_frames
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    w_mbs = r.ue() + 1
    h_map_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    # crop units per §7.4.2.1.1: monochrome / separate planes crop in
    # luma samples; 4:2:0 and 4:2:2 halve horizontally; 4:2:0 also
    # halves vertically — and vertical units double for interlaced
    # (map units are field-pairs when frame_mbs_only is 0)
    if chroma_format_idc == 0 or separate_planes:
        unit_x, unit_y = 1, 2 - frame_mbs_only
    else:
        sub_w = 2 if chroma_format_idc in (1, 2) else 1
        sub_h = 2 if chroma_format_idc == 1 else 1
        unit_x = sub_w
        unit_y = sub_h * (2 - frame_mbs_only)
    width = w_mbs * 16 - unit_x * (crop_l + crop_r)
    height = (2 - frame_mbs_only) * h_map_units * 16 - unit_y * (
        crop_t + crop_b
    )
    if width <= 0 or height <= 0:
        raise ValueError("SPS cropping exceeds the coded frame")
    return {
        "codec": "avc",
        "profile_idc": profile_idc,
        "constraint_flags": constraint_flags,
        "level_idc": level_idc,
        "chroma_format_idc": chroma_format_idc,
        "bit_depth_luma": bit_depth_luma,
        "bit_depth_chroma": bit_depth_chroma,
        "width": width,
        "height": height,
        "frame_mbs_only": bool(frame_mbs_only),
        # the coded grid + crop origin, which a sample DECODER needs
        # (display dims alone can't place the conformance window)
        "coded_width": w_mbs * 16,
        "coded_height": (2 - frame_mbs_only) * h_map_units * 16,
        "crop_left": unit_x * crop_l,
        "crop_top": unit_y * crop_t,
        # slice-header field widths (the I_PCM decode layer reads them)
        "log2_max_frame_num": log2_max_frame_num,
        "poc_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
    }


def parse_avcc(avcc: bytes) -> dict:
    """Parse an AVCDecoderConfigurationRecord (the ``avcC`` box
    payload, 14496-15 §5.3.3.1): profile/level bytes, NAL length
    size, and the first SPS parsed in full."""
    if len(avcc) < 7:
        raise ValueError("avcC record truncated")
    if avcc[0] != 1:
        raise ValueError(f"avcC configurationVersion {avcc[0]} != 1")
    out = {
        "avcc_profile": avcc[1],
        "avcc_level": avcc[3],
        "nal_length_size": (avcc[4] & 0x03) + 1,
    }
    n_sps = avcc[5] & 0x1F
    pos = 6
    sps_list = []
    for _ in range(n_sps):
        if pos + 2 > len(avcc):
            raise ValueError("avcC SPS list truncated")
        ln = struct.unpack_from(">H", avcc, pos)[0]
        pos += 2
        if pos + ln > len(avcc):
            raise ValueError("avcC SPS payload truncated")
        sps_list.append(avcc[pos : pos + ln])
        pos += ln
    if not sps_list:
        raise ValueError("avcC carries no SPS")
    out.update(parse_sps(sps_list[0]))
    return out


def annexb_sps(stream: bytes) -> dict:
    """Find and parse the SPS NAL in an Annex-B elementary stream
    (00 00 [00] 01 start codes)."""
    i = 0
    n = len(stream)
    while i + 3 < n:
        if stream[i] == 0 and stream[i + 1] == 0:
            if stream[i + 2] == 1:
                start = i + 3
            elif i + 4 < n and stream[i + 2] == 0 and stream[i + 3] == 1:
                start = i + 4
            else:
                i += 1
                continue
            # NAL runs to the next start code (or EOS)
            j = start
            while j + 3 < n and not (
                stream[j] == 0
                and stream[j + 1] == 0
                and stream[j + 2] in (0, 1)
                and (stream[j + 2] == 1 or stream[j + 3] == 1)
            ):
                j += 1
            end = j if j + 3 < n else n
            if start < n and stream[start] & 0x1F == 7:
                return parse_sps(stream[start:end])
            i = end
        else:
            i += 1
    raise ValueError("no SPS NAL in Annex-B stream")


# ---------------------------------------------------------------------------
# Fixture-side SPS writer: emits a real baseline SPS so the parser is
# pinned round-trip AND against hand-built bit vectors in the tests.
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def u(self, val: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            self.bits.append((val >> k) & 1)

    def ue(self, val: int) -> None:
        code = val + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def bytes(self) -> bytes:
        bits = self.bits + [1]  # rbsp_stop_one_bit
        while len(bits) % 8:
            bits.append(0)
        return bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )


def synthesize_sps(
    width: int, height: int, *, profile_idc: int = 66, level_idc: int = 30
) -> bytes:
    """Emit a conformant baseline (or given-profile) SPS NAL for the
    requested display size: the macroblock grid rounds up to 16 and a
    frame-cropping block trims the remainder (4:2:0 crop units, so
    width/height must be even — real 4:2:0 streams are)."""
    if width % 2 or height % 2:
        raise ValueError("4:2:0 dimensions must be even")
    w_mbs = -(-width // 16)
    h_mbs = -(-height // 16)
    crop_r = (w_mbs * 16 - width) // 2  # CropUnitX = 2 at 4:2:0
    crop_b = (h_mbs * 16 - height) // 2  # CropUnitY = 2, frame_mbs_only
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)  # constraint flags + reserved
    w.u(level_idc, 8)
    w.ue(0)  # seq_parameter_set_id
    if profile_idc in _EXTENDED_PROFILES:
        w.ue(1)  # chroma_format_idc 4:2:0
        w.ue(0)  # bit_depth_luma_minus8
        w.ue(0)  # bit_depth_chroma_minus8
        w.u(0, 1)  # qpprime_y_zero_transform_bypass_flag
        w.u(0, 1)  # seq_scaling_matrix_present_flag
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(0)  # pic_order_cnt_type 0
    w.ue(0)  # log2_max_pic_order_cnt_lsb_minus4
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    w.ue(w_mbs - 1)
    w.ue(h_mbs - 1)
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(1, 1)  # direct_8x8_inference_flag
    if crop_r or crop_b:
        w.u(1, 1)  # frame_cropping_flag
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present_flag
    return bytes([0x67]) + w.bytes()  # nal_ref_idc=3, type=7


def synthesize_avcc(
    width: int, height: int, *, profile_idc: int = 66, level_idc: int = 30
) -> bytes:
    """Emit an AVCDecoderConfigurationRecord embedding one
    :func:`synthesize_sps` (and a minimal PPS entry), the avcC box
    payload an ``avc1`` sample entry carries."""
    sps = synthesize_sps(
        width, height, profile_idc=profile_idc, level_idc=level_idc
    )
    pps = bytes([0x68, 0xCE, 0x38, 0x80])  # minimal well-formed PPS
    return (
        bytes([1, profile_idc, 0, level_idc, 0xFF, 0xE1])
        + struct.pack(">H", len(sps))
        + sps
        + bytes([1])
        + struct.pack(">H", len(pps))
        + pps
    )


# ---------------------------------------------------------------------------
# HEVC (H.265): the same metadata layer — profile_tier_level walk +
# SPS dimensions with the conformance-window crop (ISO/IEC 23008-2
# §7.3.2.2.1), and the hvcC record's NAL arrays (14496-15 §8.3.3.1).
# ---------------------------------------------------------------------------


def parse_hevc_sps(sps: bytes) -> dict:
    """Parse one HEVC SPS NAL (2-byte NAL header included) → codec
    metadata with exact cropped dimensions."""
    if len(sps) < 3:
        raise ValueError("HEVC SPS truncated")
    nal_type = (sps[0] >> 1) & 0x3F
    if nal_type != 33:
        raise ValueError(f"not an HEVC SPS NAL (type={nal_type})")
    r = _BitReader(_strip_emulation(sps[2:]))
    r.u(4)  # sps_video_parameter_set_id
    max_sub_layers = r.u(3)
    r.u(1)  # sps_temporal_id_nesting_flag
    # profile_tier_level(1, max_sub_layers)
    r.u(2)  # general_profile_space
    tier = r.u(1)
    profile_idc = r.u(5)
    r.u(32)  # general_profile_compatibility_flags
    r.u(48)  # general constraint flags (incl. progressive/interlace)
    level_idc = r.u(8)
    # ISO/IEC 23008-2 §7.3.3 interleaves the two present flags PER
    # sub-layer (profile[i], level[i], profile[i+1], ...) — reading
    # them as two separate runs mis-skips every temporally scalable
    # stream with >=2 sub-layers and mixed flags (round-13 advice).
    pairs = [(r.u(1), r.u(1)) for _ in range(max_sub_layers)]
    sub_profile = [p for p, _ in pairs]
    sub_level = [lv for _, lv in pairs]
    if max_sub_layers > 0:
        for _ in range(8 - max_sub_layers):
            r.u(2)  # reserved_zero_2bits alignment
    for p, lv in zip(sub_profile, sub_level):
        if p:
            r.u(88)  # sub-layer profile block
        if lv:
            r.u(8)  # sub_layer_level_idc
    r.ue()  # sps_seq_parameter_set_id
    chroma_format_idc = r.ue()
    if chroma_format_idc == 3:
        r.u(1)  # separate_colour_plane_flag
    width = r.ue()  # pic_width_in_luma_samples
    height = r.ue()  # pic_height_in_luma_samples
    if r.u(1):  # conformance_window_flag
        sub_w = 2 if chroma_format_idc in (1, 2) else 1
        sub_h = 2 if chroma_format_idc == 1 else 1
        left, right, top, bottom = r.ue(), r.ue(), r.ue(), r.ue()
        width -= sub_w * (left + right)
        height -= sub_h * (top + bottom)
    if width <= 0 or height <= 0:
        raise ValueError("HEVC conformance window exceeds the frame")
    return {
        "codec": "hevc",
        "profile_idc": profile_idc,
        "tier": tier,
        "level_idc": level_idc,
        "chroma_format_idc": chroma_format_idc,
        "width": width,
        "height": height,
    }


def parse_hvcc(hvcc: bytes) -> dict:
    """Parse an HEVCDecoderConfigurationRecord (the ``hvcC`` box
    payload): record-level profile/tier/level plus — when the record
    carries its SPS NAL array, as real muxers write — the exact SPS
    dimensions via :func:`parse_hevc_sps`."""
    if len(hvcc) < 23 or hvcc[0] != 1:
        raise ValueError("hvcC record truncated or not v1")
    out = {
        "codec": "hevc",
        "profile_idc": hvcc[1] & 0x1F,
        "tier": (hvcc[1] >> 5) & 1,
        "level_idc": hvcc[12],
    }
    n_arrays = hvcc[22]
    pos = 23
    for _ in range(n_arrays):
        if pos + 3 > len(hvcc):
            raise ValueError("hvcC NAL array truncated")
        nal_type = hvcc[pos] & 0x3F
        n_nalus = struct.unpack_from(">H", hvcc, pos + 1)[0]
        pos += 3
        for _ in range(n_nalus):
            if pos + 2 > len(hvcc):
                raise ValueError("hvcC NAL length truncated")
            ln = struct.unpack_from(">H", hvcc, pos)[0]
            pos += 2
            nal = hvcc[pos : pos + ln]
            if len(nal) != ln:
                raise ValueError("hvcC NAL payload truncated")
            pos += ln
            if nal_type == 33 and "width" not in out:
                out.update(parse_hevc_sps(nal))
    return out


def synthesize_hevc_sps(
    width: int,
    height: int,
    *,
    profile_idc: int = 1,
    level_idc: int = 93,
    tier: int = 0,
) -> bytes:
    """Emit a conformant HEVC SPS NAL for the requested display size:
    luma samples round up to the 8-sample minimum CTB alignment and a
    conformance window trims the remainder (4:2:0 units — dimensions
    must be even)."""
    if width % 2 or height % 2:
        raise ValueError("4:2:0 dimensions must be even")
    w_al = -(-width // 8) * 8
    h_al = -(-height // 8) * 8
    w = _BitWriter()
    w.u(0, 4)  # sps_video_parameter_set_id
    w.u(0, 3)  # sps_max_sub_layers_minus1
    w.u(1, 1)  # sps_temporal_id_nesting_flag
    w.u(0, 2)  # general_profile_space
    w.u(tier, 1)
    w.u(profile_idc, 5)
    w.u(1 << (31 - profile_idc), 32)  # compatibility flag for self
    w.u(0, 48)  # constraint flags
    w.u(level_idc, 8)
    w.ue(0)  # sps_seq_parameter_set_id
    w.ue(1)  # chroma_format_idc 4:2:0
    w.ue(w_al)  # pic_width_in_luma_samples
    w.ue(h_al)
    if w_al != width or h_al != height:
        w.u(1, 1)  # conformance_window_flag
        w.ue(0)
        w.ue((w_al - width) // 2)  # right, SubWidthC=2
        w.ue(0)
        w.ue((h_al - height) // 2)  # bottom, SubHeightC=2
    else:
        w.u(0, 1)
    # minimal tail the parser needs nothing past the window — but emit
    # the mandatory next fields so third-party parsers don't read OOB:
    w.ue(0)  # bit_depth_luma_minus8
    w.ue(0)  # bit_depth_chroma_minus8
    w.ue(4)  # log2_max_pic_order_cnt_lsb_minus4
    # NAL header: forbidden_zero(1)=0, type(6)=33, layer(6)=0, tid+1(3)=1
    return bytes([33 << 1, 1]) + w.bytes()


def synthesize_hvcc(
    width: int,
    height: int,
    *,
    profile_idc: int = 1,
    level_idc: int = 93,
    tier: int = 0,
) -> bytes:
    """Emit an HEVCDecoderConfigurationRecord embedding one
    :func:`synthesize_hevc_sps` in its type-33 NAL array."""
    sps = synthesize_hevc_sps(
        width, height,
        profile_idc=profile_idc, level_idc=level_idc, tier=tier,
    )
    head = bytes(
        [
            1,  # configurationVersion
            (tier << 5) | profile_idc,  # space/tier/profile
        ]
    )
    head += struct.pack(">I", 1 << (31 - profile_idc))  # compat flags
    head += b"\x00" * 6  # constraint flags
    head += bytes([level_idc])
    head += b"\xf0\x00"  # min_spatial_segmentation_idc (reserved bits)
    head += b"\xfc"  # parallelismType
    head += b"\xfd"  # chroma_format_idc 1 + reserved
    head += b"\xf8\xf8"  # bit depths + reserved
    head += b"\x00\x00"  # avgFrameRate
    head += bytes([0x03])  # constantFrameRate/numTemporalLayers/lengthSize
    head += bytes([1])  # numOfArrays
    arr = bytes([33])  # array_completeness=0, nal_unit_type 33 (SPS)
    arr += struct.pack(">H", 1)
    arr += struct.pack(">H", len(sps)) + sps
    return head + arr


# ---------------------------------------------------------------------------
# I_PCM coding layer: REAL AVC sample encode/decode for the intra-PCM
# subset (14496-10 §7.3.5/§8.3): every macroblock of an IDR slice is
# mb_type I_PCM — raw byte-aligned luma+chroma samples in the RBSP.
# I_PCM is fully conformant H.264 (any decoder plays it; the spec
# guarantees bit-exact reconstruction, and at the QP=0 the standard
# assigns PCM blocks the deblocking thresholds are zero, so the loop
# filter provably never alters a PCM-only frame). It is the honest
# lossless subset a pure-python engine can both WRITE and READ —
# entropy-coded (CAVLC/CABAC) residual decode still raises, loudly.
# ---------------------------------------------------------------------------


class _RbspWriter:
    """MSB-first bit writer with byte-aligned raw appends — the shape
    I_PCM needs (exp-Golomb header bits, then aligned PCM bytes)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def u(self, val: int, bits: int) -> None:
        for k in range(bits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> k) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                self.acc = self.n = 0

    def ue(self, val: int) -> None:
        code = val + 1
        ln = code.bit_length()
        self.u(0, ln - 1)
        self.u(code, ln)

    def se(self, val: int) -> None:
        self.ue(2 * val - 1 if val > 0 else -2 * val)

    def align_zero(self) -> None:
        if self.n:
            self.u(0, 8 - self.n)

    def raw(self, data: bytes) -> None:
        assert self.n == 0, "raw bytes must land byte-aligned"
        self.buf += data

    def trailing(self) -> bytes:
        self.u(1, 1)  # rbsp_stop_one_bit
        self.align_zero()
        return bytes(self.buf)


def _escape_emulation(rbsp: bytes) -> bytes:
    """Insert emulation-prevention bytes: any 00 00 followed by a
    byte <= 3 gets 03 interposed (the inverse of _strip_emulation)."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def encode_ipcm_idr(
    y, cb, cr, *, idr_pic_id: int = 0, sps: dict | None = None
) -> bytes:
    """Encode one frame of planar samples (uint8 numpy: Y at the full
    coded grid, Cb/Cr at the 4:2:0 half grid; dimensions multiples of
    16/8) as ONE conformant IDR slice NAL whose macroblocks are all
    I_PCM. Slice-header field widths come from ``sps`` (a parse_sps
    dict) — defaults match :func:`synthesize_sps`'s output."""
    h, w = y.shape
    if h % 16 or w % 16 or cb.shape != (h // 2, w // 2) or cr.shape != cb.shape:
        raise ValueError("I_PCM planes must cover the 16-aligned grid")
    frame_num_bits = (sps or {}).get("log2_max_frame_num", 4)
    poc_bits = (sps or {}).get("log2_max_poc_lsb", 4)
    wr = _RbspWriter()
    wr.ue(0)  # first_mb_in_slice
    wr.ue(7)  # slice_type: I (all slices of the picture are I)
    wr.ue(0)  # pic_parameter_set_id
    wr.u(0, frame_num_bits)  # frame_num == 0 in an IDR picture
    wr.ue(idr_pic_id)
    wr.u(0, poc_bits)  # pic_order_cnt_lsb (poc_type 0)
    wr.u(0, 1)  # no_output_of_prior_pics_flag
    wr.u(0, 1)  # long_term_reference_flag
    wr.se(0)  # slice_qp_delta
    # (the embedded PPS has deblocking_filter_control_present == 0, so
    # no deblocking fields in the header; with all-PCM content the
    # default-on filter is a provable no-op — thresholds at QP 0 are 0)
    for my in range(h // 16):
        for mx in range(w // 16):
            wr.ue(25)  # mb_type I_PCM (I-slice table 7-11)
            wr.align_zero()  # pcm_alignment_zero_bit(s)
            wr.raw(y[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16].tobytes())
            wr.raw(cb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8].tobytes())
            wr.raw(cr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8].tobytes())
    # nal_ref_idc=3, nal_unit_type=5 (IDR coded slice)
    return bytes([0x65]) + _escape_emulation(wr.trailing())


def decode_ipcm_idr(nal: bytes, sps: dict, pps: dict | None = None):
    """Decode one all-I_PCM IDR slice NAL → (y, cb, cr) uint8 planes
    at the coded grid. Raises ValueError on anything the I_PCM subset
    cannot represent (entropy-coded macroblocks, fields, non-4:2:0) —
    the caller's fall-to-stub / skip contract."""
    import numpy as np

    if not nal or nal[0] & 0x1F != 5:
        raise ValueError("not an IDR slice NAL")
    if sps.get("chroma_format_idc") != 1 or not sps.get("frame_mbs_only"):
        raise ValueError("I_PCM decode supports progressive 4:2:0 only")
    if pps is not None and pps.get("entropy_coding_mode"):
        raise ValueError("CABAC slices are not I_PCM-decodable here")
    r = _BitReader(_strip_emulation(nal[1:]))
    r.ue()  # first_mb_in_slice (single-slice pictures: 0)
    slice_type = r.ue()
    if slice_type % 5 != 2:
        raise ValueError(f"not an I slice (slice_type={slice_type})")
    r.ue()  # pic_parameter_set_id
    r.u(sps.get("log2_max_frame_num", 4))  # frame_num
    r.ue()  # idr_pic_id
    if sps.get("poc_type", 0) == 0:
        r.u(sps.get("log2_max_poc_lsb", 4))
        if pps is not None and pps.get("bottom_field_poc_present"):
            r.se()  # delta_pic_order_cnt_bottom
    elif sps.get("poc_type") == 1:
        raise ValueError("poc_type 1 slice headers unsupported")
    r.u(1)  # no_output_of_prior_pics_flag
    r.u(1)  # long_term_reference_flag
    r.se()  # slice_qp_delta
    if pps is not None and pps.get("deblocking_filter_control_present"):
        if r.ue() != 1:  # disable_deblocking_filter_idc
            r.se()  # slice_alpha_c0_offset_div2
            r.se()  # slice_beta_offset_div2
    h, w = sps["coded_height"], sps["coded_width"]
    y = np.empty((h, w), dtype=np.uint8)
    cb = np.empty((h // 2, w // 2), dtype=np.uint8)
    cr = np.empty((h // 2, w // 2), dtype=np.uint8)
    for my in range(h // 16):
        for mx in range(w // 16):
            mb_type = r.ue()
            if mb_type != 25:
                raise ValueError(
                    f"entropy-coded macroblock (mb_type={mb_type}): only "
                    "the I_PCM subset decodes without a media library"
                )
            if r.pos % 8:  # pcm_alignment_zero_bit(s)
                r.u(8 - r.pos % 8)
            by = r.pos >> 3
            need = 256 + 64 + 64
            data = r.data[by : by + need]
            if len(data) != need:
                raise ValueError("I_PCM samples truncated")
            r.pos += need * 8
            mb = np.frombuffer(data, dtype=np.uint8)
            y[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = mb[
                :256
            ].reshape(16, 16)
            cb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = mb[
                256:320
            ].reshape(8, 8)
            cr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = mb[
                320:
            ].reshape(8, 8)
    return y, cb, cr
