"""Text normalizer (P1).

Semantics of the reference cleaner (text_cleaner.py:3-21 in the reference
repo): an ordered replacement chain. Order is load-bearing — straight
apostrophes are deleted *before* curly quotes are converted to ASCII, so
curly apostrophes survive as ASCII while straight ones vanish.
"""

import re

_MULTI_SPACE = re.compile(r" +")
_MULTI_NL = re.compile(r"\n{3,}")
_PAGE_NO = re.compile(r"Page \d+ of \d+", re.IGNORECASE)


def clean_text(text: str) -> str:
    """Normalize extracted text. Byte-exact port of reference
    text_cleaner.clean_text (pdf-parser/cleaner/text_cleaner.py:3-21).

    Fast paths are output-identical: deleting ''' then ' ≡ deleting
    every '; regex substitutions are gated on a cheap containment check
    (a sub that cannot match is a no-op)."""
    text = text.replace("'", "")

    text = text.replace("‘", "'").replace("’", "'")
    text = text.replace("“", '"').replace("”", '"')
    text = text.replace("–", "-").replace("—", "-")

    if "  " in text:
        text = _MULTI_SPACE.sub(" ", text)
    if "\n\n\n" in text:
        text = _MULTI_NL.sub("\n\n", text)

    text = _PAGE_NO.sub("", text)

    return text.strip()
