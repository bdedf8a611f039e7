"""Word-level tokenization with character offsets.

Parity target: the reference's WhitespaceTokenSplitter
(gliner/data_processing/tokenizer.py:40-61) — regex ``\\w+(?:[-_]\\w+)*|\\S``,
yielding (token, start_char, end_char) with end exclusive. Identical regex
=> identical offsets => span parity.
"""

from __future__ import annotations

import re
from typing import List, Tuple

WORD_RE = re.compile(r"\w+(?:[-_]\w+)*|\S")


def tokenize_with_offsets(text: str) -> Tuple[List[str], List[int], List[int]]:
    """Return (tokens, start_chars, end_chars); end exclusive.

    Matches reference tokenizer.py:49-61 exactly.
    """
    toks: List[str] = []
    starts: List[int] = []
    ends: List[int] = []
    ta, sa, ea = toks.append, starts.append, ends.append
    for m in WORD_RE.finditer(text):
        ta(m.group())
        s, e = m.span()
        sa(s)
        ea(e)
    return toks, starts, ends


def words_splitter(backend: str = "whitespace"):
    """Pluggable splitter factory (reference WordsSplitter,
    tokenizer.py:518-581, 9 backends). The default whitespace backend is the
    reference's default and the only dependency-free one; language-specific
    backends require their libraries (absent in this container) and raise
    with the exact dependency, mirroring the reference's lazy imports.

    Returns a callable text -> (tokens, start_chars, end_chars).
    """
    if backend == "whitespace":
        return tokenize_with_offsets
    _DEPS = {
        "spacy": "spacy", "moses": "sacremoses", "jieba": "jieba",
        "mecab": "mecab-python3", "janome": "janome", "kiwi": "kiwipiepy",
        "camel": "camel-tools", "hanlp": "hanlp",
    }
    if backend in _DEPS:
        raise ImportError(
            f"words splitter backend {backend!r} needs {_DEPS[backend]!r}, "
            f"which is not installed; use 'whitespace' or install it on the "
            f"cluster image"
        )
    raise ValueError(f"unknown splitter backend {backend!r}")
