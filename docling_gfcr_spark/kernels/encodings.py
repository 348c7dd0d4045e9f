"""Encoding-cascade decode + the generic-fallback text formats (reference S4).

Reproduces /root/reference/scripts/convert.py:131-152: read utf-8, then retry
``latin-1``, ``cp1252``, ``iso-8859-1``; wrap decoded content as
``# {name}\\n\\n{content}``; non-decodable/binary payloads get the fixed
explanatory string (byte-identical to the reference).
"""

from __future__ import annotations

ENCODING_CASCADE = ("utf-8", "latin-1", "cp1252", "iso-8859-1")

APOLOGY_FMT = (
    "# {name}\n\nArquivo {ext} não pôde ser processado. Formato não suportado para fallback."
)
WRAP_FMT = "# {name}\n\n{content}"


def decode_cascade(payload: bytes) -> str | None:
    """Decode bytes through the reference's 4-encoding cascade; None if all fail.

    Note latin-1/iso-8859-1 accept every byte, so in practice only a bytes
    object can't fail — kept as the reference structured it (convert.py:144-149)
    because cp1252 *can* fail on 0x81/0x8d/0x8f/0x90/0x9d and order matters.
    """
    for enc in ENCODING_CASCADE:
        try:
            return payload.decode(enc)
        except UnicodeDecodeError:
            continue
    return None
