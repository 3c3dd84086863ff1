"""DelimitedPayloadTokenFilter analog — "token|payload" ingestion.

Reference semantics (`lucene/analysis/common/src/java/org/apache/lucene/
analysis/payloads/DelimitedPayloadTokenFilter.java:33` over
`PayloadEncoder` / `PayloadHelper.java`): each token of the form
``<surface><delim><payload>`` is rewritten to ``<surface>`` and the
payload bytes are attached to that occurrence; tokens WITHOUT the
delimiter pass through unchanged with no payload. The standard
encoders are IntegerEncoder (decimal int) and FloatEncoder
(`PayloadHelper.encodeFloat`: the 4 IEEE-754 bytes of the float).

Spark shape: payload text only makes sense under a whitespace-style
tokenizer (the standard chain would split "apple|5" at the bar), so
this is a dedicated analyzer — WhitespaceTokenizer → DelimitedPayload
→ LowerCase — that the index builder routes through its per-doc
inversion front (``batch_vectorizable = False``), whose token stream
carries the payloads to the one raw-row encoder. Payload values ride
the index's existing per-occurrence VByte payload channel
(`index/builder.py` ``pay_blob``); the engine's channel stores
non-negative ints, so the float encoder stores the IEEE-754 bit
pattern (uint32) and `search/payloads.py` ``payload_scores(...,
decoder="float_bits")`` reinterprets it — bit-exact round trip, same
contract as the reference's four payload bytes.

Envelope (documented divergence): the reference attaches NO payload to
an undelimited token; a per-occurrence int channel has no null, so
undelimited occurrences store ``missing_value`` (default 0 — neutral
for the sum/max payload functions over non-negative payloads).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

FLOAT_BITS = "float_bits"
INT = "int"


def encode_float_bits(s: str) -> int:
    """FloatEncoder / PayloadHelper.encodeFloat: IEEE-754 bits of the
    float32, as a uint32 — what the reference's 4 payload bytes hold."""
    return struct.unpack("<I", struct.pack("<f", float(s)))[0]


def decode_float_bits(v: int) -> float:
    return struct.unpack("<f", struct.pack("<I", int(v) & 0xFFFFFFFF))[0]


@dataclass(frozen=True)
class DelimitedPayloadAnalyzer:
    """Whitespace → DelimitedPayloadTokenFilter → LowerCase chain.

    ``encoder``: "int" (IntegerEncoder — decimal, must be >= 0 for the
    VByte channel) or "float_bits" (FloatEncoder bit pattern).
    """

    delimiter: str = "|"
    encoder: str = INT
    lowercase: bool = True
    missing_value: int = 0
    stop_words: frozenset = field(default_factory=frozenset)

    # builder routing: arbitrary per-token payload state — per-doc path
    batch_vectorizable = False

    def __post_init__(self):
        if len(self.delimiter) != 1:
            raise ValueError("delimiter must be a single character")
        if self.encoder not in (INT, FLOAT_BITS):
            raise ValueError(f"unknown payload encoder {self.encoder!r}")

    def _encode(self, s: str) -> int:
        if self.encoder == FLOAT_BITS:
            return encode_float_bits(s)
        v = int(s)
        if v < 0:
            raise ValueError(
                f"IntegerEncoder payload {v} < 0: the VByte payload "
                f"channel stores non-negative ints (use float_bits)")
        return v

    def term_positions_payloads(self, text: str):
        """→ ({term: [positions]}, {term: [payload per occurrence]}),
        positions 0-based in token order (the whitespace stream), stop
        words dropped WITH a position gap (FilteringTokenFilter
        discipline)."""
        tp: dict[str, list[int]] = {}
        pay: dict[str, list[int]] = {}
        for pos, tok in enumerate((text or "").split()):
            i = tok.rfind(self.delimiter)
            if i >= 0:
                surface, v = tok[:i], self._encode(tok[i + 1:])
            else:
                surface, v = tok, self.missing_value
            if self.lowercase:
                surface = surface.lower()
            if not surface or surface in self.stop_words:
                continue
            tp.setdefault(surface, []).append(pos)
            pay.setdefault(surface, []).append(v)
        return tp, pay

    def term_positions(self, text: str):
        return self.term_positions_payloads(text)[0]
