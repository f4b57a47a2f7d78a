"""H.264/AVC (ITU-T Rec. H.264) constant tables + structural validation.

Provenance and honesty (same tier model as mp3_tables.py: this container
has NO H.264 decoder/encoder binary or library to extract tables from or
differential-test against — filesystem-scanned round 6; libwebp exists but
carries no AVC code): the CAVLC VLC tables below are transcribed from the
widely-published ITU-T H.264 Tables 9-5 (coeff_token), 9-7/9-9 (a)
(total_zeros), 9-10 (run_before) and 9-4 (coded_block_pattern me(v)
mapping). Every transcription is STRUCTURALLY validated at import:

- a VLC table is accepted only if its codeword set is prefix-free AND
  Kraft-complete (sum of 2^-len == 1 exactly; the spec's coeff_token and
  total_zeros tables are all complete codes), which catches any wrong code
  length and almost any wrong codeword. Five spec tables are by design
  one-codeword short of complete: the unused word is always the ALL-ZEROS
  word of maximal length (long zero runs inside VLC codes risk start-code
  emulation), and the validator pins the hole precisely — the table plus
  that all-zeros word must be exactly Kraft-complete and prefix-free;
- the coded_block_pattern mapping must be a permutation of 0..47 and the
  deblocking alpha/beta/tc0 tables must be monotone non-decreasing with
  the spec's exact zero prefix (indexA < 16 ⇒ no filtering);
- a table that FAILS validation lands in ``UNVALIDATED`` and any bitstream
  that selects it raises ValueError instead of decoding wrong values;
- the residual undetectable error class is a transposition of two
  same-length codewords inside one validated table — streams from this
  package's own encoder are immune (shared tables); real-world streams
  hitting a transposed pair would mis-decode — called out in COVERAGE.md.
  Mitigation here: the worked CAVLC examples published in the spec's
  literature (Richardson, "H.264 and MPEG-4 Video Compression", ch. 6 —
  e.g. coeff_token(nC<2, TotalCoeff=5, T1s=3) = '0000100') are asserted
  as golden codewords in tests/test_h264.py.

Reference parity: the reference repo contains no video decoding at all
(grep-verified; its multimodal surface is this package's extension for the
training-data-pipeline axis). This module feeds media_codecs/h264.py.
"""

from __future__ import annotations

from fractions import Fraction

# ── Table 9-5: coeff_token. {(trailing_ones, total_coeff): codeword} ───────
# Column key: 0 = (0 <= nC < 2), 1 = (2 <= nC < 4), 2 = (4 <= nC < 8),
# -1 = chroma DC (4:2:0).  nC >= 8 is a 6-bit FLC handled in code.

COEFF_TOKEN = {
    0: {
        (0, 0): "1",
        (0, 1): "000101", (1, 1): "01",
        (0, 2): "00000111", (1, 2): "000100", (2, 2): "001",
        (0, 3): "000000111", (1, 3): "00000110", (2, 3): "0000101",
        (3, 3): "00011",
        (0, 4): "0000000111", (1, 4): "000000110", (2, 4): "00000101",
        (3, 4): "000011",
        (0, 5): "00000000111", (1, 5): "0000000110", (2, 5): "000000101",
        (3, 5): "0000100",
        (0, 6): "0000000001111", (1, 6): "00000000110", (2, 6): "0000000101",
        (3, 6): "00000100",
        (0, 7): "0000000001011", (1, 7): "0000000001110",
        (2, 7): "00000000101", (3, 7): "000000100",
        (0, 8): "0000000001000", (1, 8): "0000000001010",
        (2, 8): "0000000001101", (3, 8): "0000000100",
        (0, 9): "00000000001111", (1, 9): "00000000001110",
        (2, 9): "0000000001001", (3, 9): "00000000100",
        (0, 10): "00000000001011", (1, 10): "00000000001010",
        (2, 10): "00000000001101", (3, 10): "0000000001100",
        (0, 11): "000000000001111", (1, 11): "000000000001110",
        (2, 11): "00000000001001", (3, 11): "00000000001100",
        (0, 12): "000000000001011", (1, 12): "000000000001010",
        (2, 12): "000000000001101", (3, 12): "00000000001000",
        (0, 13): "0000000000001111", (1, 13): "000000000000001",
        (2, 13): "000000000001001", (3, 13): "000000000001100",
        (0, 14): "0000000000001011", (1, 14): "0000000000001110",
        (2, 14): "0000000000001101", (3, 14): "000000000001000",
        (0, 15): "0000000000000111", (1, 15): "0000000000001010",
        (2, 15): "0000000000001001", (3, 15): "0000000000001100",
        (0, 16): "0000000000000100", (1, 16): "0000000000000110",
        (2, 16): "0000000000000101", (3, 16): "0000000000001000",
    },
    1: {
        (0, 0): "11",
        (0, 1): "001011", (1, 1): "10",
        (0, 2): "000111", (1, 2): "00111", (2, 2): "011",
        (0, 3): "0000111", (1, 3): "001010", (2, 3): "001001", (3, 3): "0101",
        (0, 4): "00000111", (1, 4): "000110", (2, 4): "000101", (3, 4): "0100",
        (0, 5): "00000100", (1, 5): "0000110", (2, 5): "0000101",
        (3, 5): "00110",
        (0, 6): "000000111", (1, 6): "00000110", (2, 6): "00000101",
        (3, 6): "001000",
        (0, 7): "00000001111", (1, 7): "000000110", (2, 7): "000000101",
        (3, 7): "000100",
        (0, 8): "00000001011", (1, 8): "00000001110", (2, 8): "00000001101",
        (3, 8): "0000100",
        (0, 9): "000000001111", (1, 9): "00000001010", (2, 9): "00000001001",
        (3, 9): "000000100",
        (0, 10): "000000001011", (1, 10): "000000001110",
        (2, 10): "000000001101", (3, 10): "00000001100",
        (0, 11): "000000001000", (1, 11): "000000001010",
        (2, 11): "000000001001", (3, 11): "00000001000",
        (0, 12): "0000000001111", (1, 12): "0000000001110",
        (2, 12): "0000000001101", (3, 12): "000000001100",
        (0, 13): "0000000001011", (1, 13): "0000000001010",
        (2, 13): "0000000001001", (3, 13): "0000000001100",
        (0, 14): "0000000000111", (1, 14): "00000000001011",
        (2, 14): "0000000000110", (3, 14): "0000000001000",
        (0, 15): "00000000001001", (1, 15): "00000000001000",
        (2, 15): "00000000001010", (3, 15): "0000000000001",
        (0, 16): "00000000000111", (1, 16): "00000000000110",
        (2, 16): "00000000000101", (3, 16): "00000000000100",
    },
    2: {
        (0, 0): "1111",
        (0, 1): "001111", (1, 1): "1110",
        (0, 2): "001011", (1, 2): "01111", (2, 2): "1101",
        (0, 3): "001000", (1, 3): "01100", (2, 3): "01110", (3, 3): "1100",
        (0, 4): "0001111", (1, 4): "01010", (2, 4): "01011", (3, 4): "1011",
        (0, 5): "0001011", (1, 5): "01000", (2, 5): "01001", (3, 5): "1010",
        (0, 6): "0001001", (1, 6): "001110", (2, 6): "001101", (3, 6): "1001",
        (0, 7): "0001000", (1, 7): "001010", (2, 7): "001001", (3, 7): "1000",
        (0, 8): "00001111", (1, 8): "0001110", (2, 8): "0001101",
        (3, 8): "01101",
        (0, 9): "00001011", (1, 9): "00001110", (2, 9): "0001010",
        (3, 9): "001100",
        (0, 10): "000001111", (1, 10): "00001010", (2, 10): "00001101",
        (3, 10): "0001100",
        (0, 11): "000001011", (1, 11): "000001110", (2, 11): "00001001",
        (3, 11): "00001100",
        (0, 12): "000001000", (1, 12): "000001010", (2, 12): "000001101",
        (3, 12): "00001000",
        (0, 13): "0000001101", (1, 13): "000000111", (2, 13): "000001001",
        (3, 13): "000001100",
        (0, 14): "0000001001", (1, 14): "0000001100", (2, 14): "0000001011",
        (3, 14): "0000001010",
        (0, 15): "0000000101", (1, 15): "0000001000", (2, 15): "0000000111",
        (3, 15): "0000000110",
        (0, 16): "0000000001", (1, 16): "0000000100", (2, 16): "0000000011",
        (3, 16): "0000000010",
    },
    -1: {
        (0, 0): "01",
        (0, 1): "000111", (1, 1): "1",
        (0, 2): "000100", (1, 2): "000110", (2, 2): "001",
        (0, 3): "000011", (1, 3): "0000011", (2, 3): "0000010",
        (3, 3): "000101",
        (0, 4): "000010", (1, 4): "00000011", (2, 4): "00000010",
        (3, 4): "0000000",
    },
}

# ── Table 9-7 / 9-8: total_zeros for 4x4 blocks, keyed by TotalCoeff ───────

TOTAL_ZEROS = {
    1: {0: "1", 1: "011", 2: "010", 3: "0011", 4: "0010", 5: "00011",
        6: "00010", 7: "000011", 8: "000010", 9: "0000011", 10: "0000010",
        11: "00000011", 12: "00000010", 13: "000000011", 14: "000000010",
        15: "000000001"},
    2: {0: "111", 1: "110", 2: "101", 3: "100", 4: "011", 5: "0101",
        6: "0100", 7: "0011", 8: "0010", 9: "00011", 10: "00010",
        11: "000011", 12: "000010", 13: "000001", 14: "000000"},
    3: {0: "0101", 1: "111", 2: "110", 3: "101", 4: "0100", 5: "0011",
        6: "100", 7: "011", 8: "0010", 9: "00011", 10: "00010",
        11: "000001", 12: "00001", 13: "000000"},
    4: {0: "00011", 1: "111", 2: "0101", 3: "0100", 4: "110", 5: "101",
        6: "100", 7: "0011", 8: "011", 9: "0010", 10: "00010",
        11: "00001", 12: "00000"},
    5: {0: "0101", 1: "0100", 2: "0011", 3: "111", 4: "110", 5: "101",
        6: "100", 7: "011", 8: "0010", 9: "00001", 10: "0001",
        11: "00000"},
    6: {0: "000001", 1: "00001", 2: "111", 3: "110", 4: "101", 5: "100",
        6: "011", 7: "010", 8: "0001", 9: "001", 10: "000000"},
    7: {0: "000001", 1: "00001", 2: "101", 3: "100", 4: "011", 5: "11",
        6: "010", 7: "0001", 8: "001", 9: "000000"},
    8: {0: "000001", 1: "0001", 2: "00001", 3: "011", 4: "11", 5: "10",
        6: "010", 7: "001", 8: "000000"},
    9: {0: "000001", 1: "000000", 2: "0001", 3: "11", 4: "10", 5: "001",
        6: "01", 7: "00001"},
    10: {0: "00001", 1: "00000", 2: "001", 3: "11", 4: "10", 5: "01",
         6: "0001"},
    11: {0: "0000", 1: "0001", 2: "001", 3: "010", 4: "1", 5: "011"},
    12: {0: "0000", 1: "0001", 2: "01", 3: "1", 4: "001"},
    13: {0: "000", 1: "001", 2: "1", 3: "01"},
    14: {0: "00", 1: "01", 2: "1"},
    15: {0: "0", 1: "1"},
}

# Table 9-9 (a): total_zeros for chroma DC (4:2:0, maxNumCoeff 4)

TOTAL_ZEROS_CHROMA_DC = {
    1: {0: "1", 1: "01", 2: "001", 3: "000"},
    2: {0: "1", 1: "01", 2: "00"},
    3: {0: "1", 1: "0"},
}

# ── Table 9-10: run_before, keyed by min(zerosLeft, 7) ─────────────────────

RUN_BEFORE = {
    1: {0: "1", 1: "0"},
    2: {0: "1", 1: "01", 2: "00"},
    3: {0: "11", 1: "10", 2: "01", 3: "00"},
    4: {0: "11", 1: "10", 2: "01", 3: "001", 4: "000"},
    5: {0: "11", 1: "10", 2: "011", 3: "010", 4: "001", 5: "000"},
    6: {0: "11", 1: "000", 2: "001", 3: "011", 4: "010", 5: "101",
        6: "100"},
    7: {0: "111", 1: "110", 2: "101", 3: "100", 4: "011", 5: "010",
        6: "001", 7: "0001", 8: "00001", 9: "000001", 10: "0000001",
        11: "00000001", 12: "000000001", 13: "0000000001",
        14: "00000000001"},
}

# Several spec VLC tables deliberately omit the all-zeros longest codeword
# (long zero runs inside VLC codes risk start-code emulation); their Kraft
# sums are exactly 1 - 2^-maxlen. The validator pins the hole PRECISELY:
# the table plus the all-zeros word of the listed length must be a complete
# prefix code — any other missing/wrong codeword still fails.
_EXPECTED_ZERO_HOLE = {
    ("coeff_token", 0): 15,
    ("coeff_token", 1): 13,
    ("coeff_token", 2): 10,
    ("total_zeros", 1): 9,
    ("run_before", 7): 11,
}

# ── Table 9-4: coded_block_pattern me(v) mapping (codeNum → cbp) ───────────
# Column for Intra_4x4 / Intra_8x8 macroblock prediction modes.

CBP_INTRA = [
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
]

# Column for Inter macroblock prediction modes (P/B slices).

CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]

# ── quantization (8.5.9 / 8.5.12) — flat scaling lists (Flat_4x4_16) ───────
# Dequant normAdjust rows by qP % 6; positions classed a=(0,0),(0,2),(2,0),
# (2,2); b=(1,1),(1,3),(3,1),(3,3); c=rest.

DEQUANT_V = [
    (10, 16, 13), (11, 18, 14), (13, 20, 16),
    (14, 23, 18), (16, 25, 20), (18, 29, 23),
]

# Forward quant multipliers (encoder side; JM MF table, same position classes)

QUANT_MF = [
    (13107, 5243, 8066), (11916, 4660, 7490), (10082, 4194, 6554),
    (9362, 3647, 5825), (8192, 3355, 5243), (7282, 2893, 4559),
]


def pos_class(i: int, j: int) -> int:
    """Position class for the 4x4 (de)quant matrices: 0=a, 1=b, 2=c."""
    ie, je = i % 2 == 0, j % 2 == 0
    if ie and je:
        return 0
    if not ie and not je:
        return 1
    return 2


# ── chroma QP mapping (Table 8-15) ─────────────────────────────────────────

CHROMA_QP = list(range(30)) + [29, 30, 31, 32, 32, 33, 34, 34, 35, 35,
                               36, 36, 37, 37, 37, 38, 38, 38, 39, 39,
                               39, 39]

# ── scan orders ────────────────────────────────────────────────────────────

ZIGZAG_4x4 = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]

# luma4x4BlkIdx → (x, y) in 4x4-block units within the macroblock (6.4.3)
BLK4_POS = [
    (0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2), (2, 3), (3, 3),
]

# ── deblocking filter tables (8.7.2, Tables 8-16 / 8-17) ───────────────────

ALPHA = [0] * 16 + [4, 4, 5, 6, 7, 8, 9, 10, 12, 13, 15, 17, 20, 22, 25,
                    28, 32, 36, 40, 45, 50, 56, 63, 71, 80, 90, 101, 113,
                    127, 144, 162, 182, 203, 226, 255, 255]

BETA = [0] * 16 + [2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 6, 6, 7, 7, 8, 8, 9, 9,
                   10, 10, 11, 11, 12, 12, 13, 13, 14, 14, 15, 15, 16, 16,
                   17, 17, 18, 18]

# tc0 by (indexA, bS-1) for bS in 1..3
TC0 = [(0, 0, 0)] * 16 + [
    (0, 0, 0), (0, 0, 1), (0, 0, 1), (0, 0, 1), (0, 0, 1), (0, 1, 1),
    (0, 1, 1), (1, 1, 1), (1, 1, 1), (1, 1, 1), (1, 1, 1), (1, 1, 2),
    (1, 1, 2), (1, 1, 2), (1, 1, 2), (1, 2, 3), (1, 2, 3), (2, 2, 3),
    (2, 2, 4), (2, 3, 4), (2, 3, 4), (3, 3, 5), (3, 4, 6), (3, 4, 6),
    (4, 5, 7), (4, 5, 8), (5, 6, 9), (6, 7, 10), (6, 8, 11), (7, 9, 13),
    (8, 10, 16), (9, 12, 18), (10, 13, 20), (11, 15, 23), (13, 17, 25),
    (13, 17, 25),
]


# ── structural validation ──────────────────────────────────────────────────


def validate_vlc(codes: dict, zero_hole_len: int | None = None) -> str | None:
    """None if the codeword set (plus, when ``zero_hole_len`` is given, the
    all-zeros word of that length standing in for the spec's deliberate
    hole) is prefix-free and exactly Kraft-complete; else a reason."""
    words = list(codes.values())
    if zero_hole_len is not None:
        hole = "0" * zero_hole_len
        if hole in words:
            return f"expected hole {hole!r} is occupied"
        words = words + [hole]
    if len(set(words)) != len(words):
        return "duplicate codeword"
    for w in words:
        if not w or set(w) - {"0", "1"}:
            return f"malformed codeword {w!r}"
    srt = sorted(words)
    for a, b in zip(srt, srt[1:]):
        if b.startswith(a):
            return f"codeword {a!r} prefixes {b!r}"
    kraft = sum(Fraction(1, 2 ** len(w)) for w in words)
    if kraft != 1:
        return f"Kraft sum {kraft} != 1"
    return None


def _decode_trie(codes: dict) -> dict[str, object]:
    """codeword-string → value lookup (decoded bit-by-bit in h264.py)."""
    return {w: v for v, w in codes.items()}


VALIDATED: dict[tuple, dict] = {}
UNVALIDATED: dict[tuple, str] = {}


def _register(kind: str, key, codes: dict) -> None:
    reason = validate_vlc(codes, _EXPECTED_ZERO_HOLE.get((kind, key)))
    if reason is None:
        VALIDATED[(kind, key)] = _decode_trie(codes)
    else:
        UNVALIDATED[(kind, key)] = reason


for _k, _tab in COEFF_TOKEN.items():
    _register("coeff_token", _k, _tab)
for _k, _tab in TOTAL_ZEROS.items():
    _register("total_zeros", _k, _tab)
for _k, _tab in TOTAL_ZEROS_CHROMA_DC.items():
    _register("total_zeros_cdc", _k, _tab)
for _k, _tab in RUN_BEFORE.items():
    _register("run_before", _k, _tab)

# non-VLC structural checks — fail loudly at import, these have no
# per-stream fallback (every stream needs them)
assert sorted(CBP_INTRA) == list(range(48)), "CBP_INTRA not a permutation"
assert sorted(CBP_INTER) == list(range(48)), "CBP_INTER not a permutation"
assert len(CHROMA_QP) == 52 and all(
    CHROMA_QP[i] <= CHROMA_QP[i + 1] for i in range(51)
), "chroma QP map not monotone"
assert len(ALPHA) == 52 == len(BETA) == len(TC0)
assert all(ALPHA[i] <= ALPHA[i + 1] for i in range(51))
assert all(BETA[i] <= BETA[i + 1] for i in range(51))
assert all(
    TC0[i][b] <= TC0[i + 1][b] for i in range(51) for b in range(3)
) and all(t[0] <= t[1] <= t[2] for t in TC0), "tc0 table not monotone"
assert sorted(ZIGZAG_4x4) == list(range(16))
assert sorted(BLK4_POS) == [(x, y) for x in range(4) for y in range(4)]
assert len(DEQUANT_V) == 6 == len(QUANT_MF)
