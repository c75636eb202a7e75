"""REAL H.264 Annex-B BYTE-STREAM SYNTAX (r11): the container half of
the H.264 seam. `operators/mcv.py` (r9) implemented the hybrid-video
*signal path* (motion compensation, transform residuals, exp-Golomb
syntax elements); what remained stubbed in `operators/multimodal.py`
was the NAL-unit byte-stream syntax itself. This module implements it
from ITU-T H.264 §7.3.1/§7.4.1 + Annex B:

1. **Start codes**: 4-byte ``00 00 00 01`` before SPS/PPS/SEI/IDR,
   3-byte ``00 00 01`` before subsequent slices (both legal; the
   convention real encoders use). The sequential scan validates every
   one.
2. **NAL headers**: forbidden_zero_bit, nal_ref_idc, nal_unit_type —
   SPS=0x67, PPS=0x68, SEI=0x06, IDR slice=0x65, non-IDR=0x41, the
   exact bytes a hex dump of any H.264 stream shows.
3. **Emulation prevention** (§7.4.1.1): inside a NAL, ``00 00`` may
   not be followed by ``00/01/02/03``; the encoder inserts an
   ``emulation_prevention_three_byte`` (0x03) and the decoder strips
   it, validating that no illegal sequence survives and that every
   0x03 escape precedes ``00/01/02/03``. The MCV frame syntax can be
   SHOWN never to need escaping (exp-Golomb codes bound zero runs to
   <16 bits — see `_assert_no_emulation_needed`), so the corpus-wide
   exercise comes from the SEI NAL below, exactly where real streams
   get their emulation sites (x264 writes its version banner as SEI).
4. **rbsp_trailing_bits**: every RBSP ends stop-bit-then-align
   (0x80 here, since MCV frames are byte-aligned) — the mechanism by
   which the spec guarantees a NAL's last byte is nonzero, so
   trailing zeros can never merge with the next start code.
5. **A real SPS/PPS**: profile/level, log2_max_frame_num, pic-order
   type, mb-grid dimensions and FRAME CROPPING written and parsed
   with the shared exp-Golomb coder — the 24x16 picture is signalled
   as 2x1 macroblocks cropped right by 4 chroma units, the actual
   H.264 arithmetic for non-multiple-of-16 sizes. The decoder's
   (width, height) are COMPUTED from the parsed SPS, not assumed.
6. **SEI user_data_unregistered** (§D.1.6): 16-byte UUID + a binary
   record (u64 doc_id, u32 frame count, u32 width, u32 height,
   big-endian). The leading zero bytes of those fields are where
   emulation prevention FIRES, data-dependently (a small doc_id has
   more leading zeros than a large one) — and the DuckDB oracle
   replays the escape scan closed-form over the same generated bytes
   (`plans/multimodal_queries.py:_annexb_oracle`), so the inserted
   0x03 count and the total container size are graded byte-for-byte.

Decode path: per document, scan start codes -> strip emulation ->
parse SPS/PPS/SEI -> reassemble the MCV1 container from the parsed
geometry + slice RBSPs; then per Arrow batch, `mcv.mcv_features_batch`
decodes all the rebuilt containers at once (every frame CRC still
checked; `mcv.parse_mcv` raises for a container the batch walk does
not accept) -> per-frame reconstruction features. Wrapping walks the
batch's MCV1 containers the same way (`mcv.mcv_frame_spans_batch`).
Parity therefore proves the whole wrap -> escape -> scan -> unescape
-> parse -> decode chain.

Scale notes (100 TB): identical plan shape to the MCV row — synth,
encode, wrap and decode fused into one Arrow-batched ``mapInPandas``,
map-only, zero data-bearing shuffles beyond the narrow-key spread. Annex-B's start-code scan is what makes
H.264 elementary streams SPLITTABLE: a reader dropped at a random
offset resynchronizes at the next start code — the same property the
frame-level CRC gives MLT1/MCV1, here at the byte-stream level.

Reference parity note: the reference engine has no media path
(SURVEY.md §2.3); this retires the NAL-syntax half of the declared
container-format seam (`operators/multimodal.py` r9 note).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from ds_mapreduce_spark.operators.bitio import (
    BitReader,
    BitWriter,
    corruption_to_value_error,
    read_ue,
    unzigzag,
    write_ue,
    zigzag,
)
from ds_mapreduce_spark.operators.mcv import (
    MCV_H,
    MCV_MAGIC,
    MCV_QI,
    MCV_QP,
    MCV_SEARCH,
    MCV_W,
    mcv_features_batch,
    mcv_frame_spans,
    mcv_frame_spans_batch,
)
from ds_mapreduce_spark.operators.multimodal import PAYLOAD_SCHEMA, synth_map_arrays

#: fixed UUID for the SEI user_data_unregistered record — all bytes
#: > 0x03 so the UUID itself never creates or terminates an emulation
#: site (keeps the oracle's closed-form scan confined to the record)
SEI_UUID = bytes(range(0x10, 0x20))
#: SEI record: u64 doc_id, u32 n_frames, u32 width, u32 height (BE)
SEI_RECORD_LEN = 16 + 8 + 4 + 4 + 4

ANNEXB_FEATURE_SCHEMA = (
    "doc_id bigint, n_nals bigint, n_idr bigint, sps_width bigint, "
    "sps_height bigint, sei_doc_id bigint, sum_rbsp_bytes bigint, "
    "emu_bytes bigint, container_bytes bigint, sum_v_total bigint, "
    "sum_sq_v_total bigint, sum_abs_mv_total bigint"
)


def ebsp_escape(rbsp: bytes) -> bytes:
    """RBSP -> EBSP: insert 0x03 whenever two zero bytes would be
    followed by 0x00..0x03 (H.264 §7.4.1.1 encoder side).

    Fast path (r16): a numpy pre-scan finds ``00 00 xx<=03`` candidate
    sites; with none, no insertion is possible (the sequential scan's
    counter resets only ever SUPPRESS insertions, never add) and the
    input is returned untouched — which is every slice NAL, since the
    MCV syntax bounds zero-bit runs below 16 (`_assert_no_emulation_
    needed`). Only NALs with candidates (the SEI record) walk the
    exact byte loop."""
    if len(rbsp) >= 3:
        s = np.frombuffer(rbsp, dtype=np.uint8)
        cand = (s[:-2] == 0) & (s[1:-1] == 0) & (s[2:] <= 3)
        if not cand.any():
            return rbsp
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def ebsp_unescape(ebsp: bytes) -> bytes:
    """EBSP -> RBSP: strip emulation bytes, rejecting streams where a
    forbidden ``00 00 0x`` (x<3) survives, where 0x03 is followed by a
    byte > 3, or where 0x03 is the NAL's last byte (§7.4.1.1 requires
    an emulation_prevention_three_byte to precede 00/01/02/03).

    Fast path (r16): every strip/validation event requires a literal
    ``00 00`` byte pair somewhere in the EBSP; a numpy pre-scan showing
    none means the scan can neither strip nor reject — return the
    input untouched (every slice NAL; see `ebsp_escape`)."""
    if len(ebsp) >= 2:
        s = np.frombuffer(ebsp, dtype=np.uint8)
        if not ((s[:-1] == 0) & (s[1:] == 0)).any():
            return ebsp
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(ebsp):
        b = ebsp[i]
        if zeros >= 2:
            if b < 3:
                raise ValueError("unescaped 00 00 0x inside a NAL unit")
            if b == 3:
                if i + 1 >= len(ebsp):
                    raise ValueError("emulation byte at end of NAL unit")
                if ebsp[i + 1] > 3:
                    raise ValueError("emulation byte before a byte > 0x03")
                zeros = 0
                i += 1
                continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def _rbsp_trailing(w: BitWriter) -> None:
    w.write(1, 1)
    w.align()


def _read_rbsp_trailing(r: BitReader, rbsp: bytes) -> None:
    """Consume rbsp_trailing_bits: stop bit, zero pad to the byte
    boundary, and exact end-of-RBSP."""
    if r.read(1) != 1:
        raise ValueError("rbsp_stop_one_bit missing")
    pad = (8 - r.bit_pos) % 8
    if pad and r.read(pad) != 0:
        raise ValueError("rbsp_alignment bits are not zero")
    if r.byte_pos != len(rbsp):
        raise ValueError("trailing bytes after rbsp_trailing_bits")


def _strip_rbsp_trailing(rbsp: bytes) -> bytes:
    """Validate and remove rbsp_trailing_bits (here always a full 0x80
    byte: every RBSP body this module writes is byte-aligned first)."""
    if not rbsp or rbsp[-1] != 0x80:
        raise ValueError("missing rbsp_trailing_bits")
    return rbsp[:-1]


def write_sps(width: int, height: int) -> bytes:
    """Baseline-profile SPS RBSP for a frame-coded monochrome-carried
    picture of (width, height), cropping signalled per §7.4.2.1.1.
    se(v) values use the repo-wide zigzag fold (H.264's mapping differs
    by a sign convention; the fold is symmetric so parse inverts it)."""
    if width % 2 or height % 2:
        raise ValueError("cropping units require even dimensions")
    mbs_w = (width + 15) // 16
    mbs_h = (height + 15) // 16
    crop_r = (mbs_w * 16 - width) // 2
    crop_b = (mbs_h * 16 - height) // 2
    w = BitWriter()
    w.write(66, 8)   # profile_idc: Baseline
    w.write(0, 8)    # constraint flags + reserved_zero_2bits
    w.write(10, 8)   # level_idc 1.0
    write_ue(w, 0)   # seq_parameter_set_id
    write_ue(w, 0)   # log2_max_frame_num_minus4
    write_ue(w, 2)   # pic_order_cnt_type
    write_ue(w, 1)   # max_num_ref_frames
    w.write(0, 1)    # gaps_in_frame_num_value_allowed_flag
    write_ue(w, mbs_w - 1)  # pic_width_in_mbs_minus1
    write_ue(w, mbs_h - 1)  # pic_height_in_map_units_minus1
    w.write(1, 1)    # frame_mbs_only_flag
    w.write(0, 1)    # direct_8x8_inference_flag
    w.write(1, 1)    # frame_cropping_flag
    write_ue(w, 0)         # frame_crop_left_offset
    write_ue(w, crop_r)    # frame_crop_right_offset
    write_ue(w, 0)         # frame_crop_top_offset
    write_ue(w, crop_b)    # frame_crop_bottom_offset
    w.write(0, 1)    # vui_parameters_present_flag
    _rbsp_trailing(w)
    return w.getvalue()


def parse_sps(rbsp: bytes) -> tuple[int, int]:
    """Parse the SPS back; (width, height) are COMPUTED from the mb
    grid and the cropping offsets — the real H.264 arithmetic."""
    r = BitReader(rbsp)
    if r.read(8) != 66:
        raise ValueError("unexpected SPS profile_idc")
    if r.read(8) != 0 or r.read(8) != 10:
        raise ValueError("unexpected SPS constraint/level bytes")
    if read_ue(r) != 0:
        raise ValueError("unexpected seq_parameter_set_id")
    if read_ue(r) != 0:
        raise ValueError("unexpected log2_max_frame_num_minus4")
    if read_ue(r) != 2:
        raise ValueError("unexpected pic_order_cnt_type")
    if read_ue(r) != 1:
        raise ValueError("unexpected max_num_ref_frames")
    if r.read(1) != 0:
        raise ValueError("unexpected gaps_in_frame_num flag")
    mbs_w = read_ue(r) + 1
    mbs_h = read_ue(r) + 1
    if r.read(1) != 1:
        raise ValueError("expected frame_mbs_only_flag")
    if r.read(1) != 0:
        raise ValueError("unexpected direct_8x8_inference_flag")
    width, height = mbs_w * 16, mbs_h * 16
    if r.read(1):  # frame_cropping_flag
        crop_l, crop_r_ = read_ue(r), read_ue(r)
        crop_t, crop_b = read_ue(r), read_ue(r)
        width -= 2 * (crop_l + crop_r_)
        height -= 2 * (crop_t + crop_b)
    if r.read(1) != 0:
        raise ValueError("unexpected vui_parameters_present_flag")
    _read_rbsp_trailing(r, rbsp)
    if width <= 0 or height <= 0:
        raise ValueError(f"SPS cropping yields {width}x{height}")
    return width, height


def write_pps() -> bytes:
    """Minimal CAVLC PPS RBSP (§7.3.2.2), all-default fields."""
    w = BitWriter()
    write_ue(w, 0)   # pic_parameter_set_id
    write_ue(w, 0)   # seq_parameter_set_id
    w.write(0, 1)    # entropy_coding_mode_flag: CAVLC
    w.write(0, 1)    # bottom_field_pic_order_in_frame_present_flag
    write_ue(w, 0)   # num_slice_groups_minus1
    write_ue(w, 0)   # num_ref_idx_l0_default_active_minus1
    write_ue(w, 0)   # num_ref_idx_l1_default_active_minus1
    w.write(0, 1)    # weighted_pred_flag
    w.write(0, 2)    # weighted_bipred_idc
    write_ue(w, zigzag(0))  # pic_init_qp_minus26
    write_ue(w, zigzag(0))  # pic_init_qs_minus26
    write_ue(w, zigzag(0))  # chroma_qp_index_offset
    w.write(0, 1)    # deblocking_filter_control_present_flag
    w.write(0, 1)    # constrained_intra_pred_flag
    w.write(0, 1)    # redundant_pic_cnt_present_flag
    _rbsp_trailing(w)
    return w.getvalue()


def parse_pps(rbsp: bytes) -> None:
    r = BitReader(rbsp)
    for field in ("pps_id", "sps_id"):
        if read_ue(r) != 0:
            raise ValueError(f"unexpected PPS {field}")
    if r.read(2) != 0:
        raise ValueError("unexpected PPS entropy/order flags")
    for field in ("slice_groups", "ref_idx_l0", "ref_idx_l1"):
        if read_ue(r) != 0:
            raise ValueError(f"unexpected PPS {field}")
    if r.read(3) != 0:
        raise ValueError("unexpected PPS weighted-pred fields")
    for field in ("init_qp", "init_qs", "chroma_qp_offset"):
        if unzigzag(read_ue(r)) != 0:
            raise ValueError(f"unexpected PPS {field}")
    if r.read(3) != 0:
        raise ValueError("unexpected PPS tail flags")
    _read_rbsp_trailing(r, rbsp)


def write_sei(doc_id: int, n_frames: int, width: int, height: int) -> bytes:
    """SEI user_data_unregistered (§D.1.6): payload type 5, one-byte
    size, UUID, then the big-endian binary record whose leading zero
    bytes are the corpus's emulation-prevention sites."""
    record = SEI_UUID + struct.pack(">QIII", doc_id, n_frames, width, height)
    w = BitWriter()
    w.write(5, 8)                 # last_payload_type_byte
    w.write(len(record), 8)       # last_payload_size_byte
    for b in record:
        w.write(b, 8)
    _rbsp_trailing(w)
    return w.getvalue()


def parse_sei(rbsp: bytes) -> tuple[int, int, int, int]:
    body = _strip_rbsp_trailing(rbsp)
    if len(body) != 2 + SEI_RECORD_LEN:
        raise ValueError(f"SEI length {len(body)} unexpected")
    if body[0] != 5:
        raise ValueError("SEI payload type is not user_data_unregistered")
    if body[1] != SEI_RECORD_LEN:
        raise ValueError("SEI payload size mismatch")
    if body[2:18] != SEI_UUID:
        raise ValueError("SEI UUID mismatch")
    doc_id, n_frames, width, height = struct.unpack(">QIII", body[18:])
    return doc_id, n_frames, width, height


def _nal(start4: bool, ref_idc: int, nal_type: int, rbsp: bytes) -> bytes:
    start = b"\x00\x00\x00\x01" if start4 else b"\x00\x00\x01"
    header = bytes([(ref_idc << 5) | nal_type])
    return start + header + ebsp_escape(rbsp)


def wrap_annexb(doc_id: int, mcv_payload: bytes) -> bytes:
    """MCV1 container -> Annex-B byte stream: SPS, PPS, SEI, then one
    slice NAL per frame (IDR for frame 0). Each slice RBSP is the MCV
    frame's coded bytes + CRC + rbsp_trailing_bits. The container is
    validated as ``parse_mcv`` validates it (``mcv_frame_spans``)."""
    return _wrap_spans(doc_id, mcv_payload, mcv_frame_spans(mcv_payload))


def _wrap_spans(doc_id: int, mcv_payload: bytes, spans) -> bytes:
    out = bytearray()
    out += _nal(True, 3, 7, write_sps(MCV_W, MCV_H))
    out += _nal(True, 3, 8, write_pps())
    out += _nal(True, 0, 6, write_sei(doc_id, len(spans), MCV_W, MCV_H))
    for t, (s, e) in enumerate(spans):
        rbsp = mcv_payload[s:e] + b"\x80"
        if t == 0:
            out += _nal(True, 3, 5, rbsp)
        else:
            out += _nal(False, 2, 1, rbsp)
    return bytes(out)


def _split_nals(stream: bytes) -> list[tuple[int, int, bytes, int]]:
    """Sequential Annex-B scan -> [(ref_idc, type, rbsp, sc_len)],
    where ``sc_len`` is the length (3 or 4) of the start code that
    opened each NAL as ACTUALLY SCANNED — consumers must account
    start-code bytes from this, not from any producer convention
    (both lengths are legal anywhere per Annex B). The first start
    code must open the stream; each NAL runs to the next start code
    or EOF; forbidden_zero_bit is checked on every header.

    The next-start-code search is a numpy pre-scan (r16): all
    ``00 00 (01 | 00 01)`` sites are located once up front and each
    NAL's end is a binary search into that list — bit-identical to
    the former per-byte walk (the pre-scan computes exactly the same
    predicate at every byte offset), minus the Python inner loop that
    re-touched every stream byte per NAL."""
    nals = []
    pos = 0
    n = len(stream)
    if stream[:4] != b"\x00\x00\x00\x01":
        raise ValueError("stream does not open with a 4-byte start code")
    s = np.frombuffer(stream, dtype=np.uint8)
    z = s == 0
    cand = np.zeros(n, dtype=bool)
    if n >= 3:
        cand[: n - 2] = z[:-2] & z[1:-1] & (s[2:] == 1)
    if n >= 4:
        cand[: n - 3] |= z[:-3] & z[1:-2] & z[2:-1] & (s[3:] == 1)
    sites = np.flatnonzero(cand)
    while pos < n:
        if stream[pos : pos + 4] == b"\x00\x00\x00\x01":
            sc_len = 4
        elif stream[pos : pos + 3] == b"\x00\x00\x01":
            sc_len = 3
        else:
            raise ValueError(f"expected start code at byte {pos}")
        pos += sc_len
        if pos >= n:
            raise ValueError("start code at end of stream")
        header = stream[pos]
        if header & 0x80:
            raise ValueError("forbidden_zero_bit set")
        pos += 1
        nxt = np.searchsorted(sites, pos)
        end = int(sites[nxt]) if nxt < len(sites) else n
        nals.append(((header >> 5) & 3, header & 0x1F,
                     ebsp_unescape(stream[pos:end]), sc_len))
        pos = end
    return nals


@corruption_to_value_error
def parse_annexb(stream: bytes):
    """Full byte-stream parse -> (sei fields, width, height, slice
    RBSPs). Validates the NAL sequence (SPS, PPS, SEI, IDR, non-IDR*),
    every header byte, the SPS/PPS field values, the SEI record, and
    each slice's rbsp_trailing_bits."""
    _nals, parsed = _parse_annexb_with_nals(stream)
    return parsed


@corruption_to_value_error
def _parse_annexb_with_nals(stream: bytes):
    """`parse_annexb` body that also returns the scanned NAL list, so
    `decode_annexb_features` computes its container census from the
    SAME scan instead of re-splitting (and re-unescaping) the whole
    stream a second time per document (r16)."""
    if len(stream) < 5:
        raise ValueError("stream shorter than one start code + header")
    nals = _split_nals(stream)
    if len(nals) < 4:
        raise ValueError(f"only {len(nals)} NAL units")
    (sps_ref, sps_type, sps_rbsp, _) = nals[0]
    if (sps_ref, sps_type) != (3, 7):
        raise ValueError("first NAL is not an SPS")
    width, height = parse_sps(sps_rbsp)
    (pps_ref, pps_type, pps_rbsp, _) = nals[1]
    if (pps_ref, pps_type) != (3, 8):
        raise ValueError("second NAL is not a PPS")
    parse_pps(pps_rbsp)
    (sei_ref, sei_type, sei_rbsp, _) = nals[2]
    if (sei_ref, sei_type) != (0, 6):
        raise ValueError("third NAL is not an SEI")
    sei_doc_id, sei_frames, sei_w, sei_h = parse_sei(sei_rbsp)
    if (sei_w, sei_h) != (width, height):
        raise ValueError("SEI dimensions disagree with the SPS")
    slices = nals[3:]
    if len(slices) != sei_frames:
        raise ValueError(
            f"SEI declares {sei_frames} frames, stream has {len(slices)}"
        )
    if (slices[0][0], slices[0][1]) != (3, 5):
        raise ValueError("first slice is not an IDR NAL")
    for ref, typ, _, _ in slices[1:]:
        if (ref, typ) != (2, 1):
            raise ValueError("non-IDR slice NAL expected")
    frame_rbsps = [_strip_rbsp_trailing(rbsp) for _, _, rbsp, _ in slices]
    return nals, (sei_doc_id, width, height, frame_rbsps)


def rebuild_mcv(width: int, height: int, frame_rbsps: list[bytes]) -> bytes:
    """Reassemble the MCV1 container from parsed stream geometry +
    slice payloads; `mcv.parse_mcv` then re-validates every frame CRC."""
    header = MCV_MAGIC + struct.pack(
        "<HHBBBB", width, height, len(frame_rbsps), MCV_QI, MCV_QP, MCV_SEARCH
    )
    return header + b"".join(frame_rbsps)


def decode_annexb_features(media: DataFrame) -> DataFrame:
    """(doc_id, stream) -> per-doc container census + reconstruction
    features through the full Annex-B chain. ``emu_bytes`` counts the
    emulation_prevention_three_bytes the scan stripped (graded
    closed-form by the oracle's replay of the escape rule);
    ``sei_doc_id`` must round-trip the identity through the escaped
    record. Frame features come from decoding the REASSEMBLED MCV1
    containers of the whole Arrow batch (``mcv_features_batch``), so
    every slice still passes its CRC. The first document in row order
    that fails either parse fails the job with its error."""

    def features(doc_id, stream):
        census, containers, error = [], [], None
        for s in stream:
            s = bytes(s)
            try:
                nals, (sei_doc_id, width, height, frame_rbsps) = (
                    _parse_annexb_with_nals(s)
                )
            except ValueError as exc:
                # raised after the containers of the rows before it
                # are decoded: an earlier row's MCV1 error comes first
                error = exc
                break
            containers.append(rebuild_mcv(width, height, frame_rbsps))
            rbsp_total = sum(len(r) for _, _, r, _ in nals)
            start_bytes = sum(sc for _, _, _, sc in nals)
            census.append(
                (
                    len(nals),
                    sum(1 for _, t, _, _ in nals if t == 5),
                    width,
                    height,
                    sei_doc_id,
                    rbsp_total,
                    len(s) - start_bytes - len(nals) - rbsp_total,
                    len(s),
                )
            )
        f = mcv_features_batch(containers)
        if error is not None:
            raise error
        totals = np.zeros((3, len(containers)), dtype=np.int64)
        for k, name in enumerate(("sum_v", "sum_sq_v", "sum_abs_mv")):
            np.add.at(totals[k], f["row"], f[name])
        names = ANNEXB_FEATURE_SCHEMA.replace(" bigint", "").split(", ")
        cols = np.array(census, dtype=np.int64).reshape(-1, 8).T
        return dict(zip(names, [doc_id, *cols, *totals]))

    return synth_map_arrays(media, ANNEXB_FEATURE_SCHEMA, features)


def wrap_annexb_df(media: DataFrame) -> DataFrame:
    """(doc_id, payload=MCV1) -> (doc_id, payload=Annex-B stream), one
    ``mcv_frame_spans_batch`` walk per Arrow batch."""

    def wrap(doc_id, payload):
        payloads = [bytes(p) for p in payload]
        spans = mcv_frame_spans_batch(payloads)
        return {
            "payload": [
                _wrap_spans(int(d), p, sp)
                for d, p, sp in zip(doc_id, payloads, spans)
            ]
        }

    return synth_map_arrays(media, PAYLOAD_SCHEMA, wrap)
