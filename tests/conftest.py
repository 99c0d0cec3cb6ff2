import contextlib
import re
from typing import List, Optional

import pytest

from sciencebeam_trainer_grobid_tools_spark.kernel import native
from sciencebeam_trainer_grobid_tools_spark.kernel.doc import Token, TokenizedDoc


@contextlib.contextmanager
def forced_python_kernel():
    """Run the kernel without the native library: the pure-Python path that
    is the fallback where gcc is missing and the reference the native search
    is compared against."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(native, "get_native_lib", lambda: None)
        yield


@pytest.fixture
def python_kernel():
    """The forced-Python kernel path for one test (the native path is the
    default whenever gcc is available)."""
    with forced_python_kernel():
        yield


def tokens_for_text(text: str) -> List[str]:
    """Reference test builder: split on non-word chars, drop whitespace
    (tests/annotation/simple_matching_annotator_test.py:63-64)."""
    return [s for s in re.split(r"(\W)", text) if s.strip()]


def doc_for_token_lines(token_lines: List[List[str]]) -> TokenizedDoc:
    """Build a TokenizedDoc from explicit token texts per line, with
    unset whitespace (None -> single space in joins), mirroring the
    reference's SimpleToken-based test documents."""
    lines: List[List[Token]] = []
    parts: List[str] = []
    pos = 0
    for line_index, token_texts in enumerate(token_lines):
        tokens: List[Token] = []
        for j, text in enumerate(token_texts):
            ws: Optional[str] = None
            token = Token(text, ws, pos, pos + len(text), line_index)
            tokens.append(token)
            parts.append(text)
            pos += len(text)
            if j + 1 < len(token_texts):
                parts.append(" ")
                pos += 1
        lines.append(tokens)
        if line_index + 1 < len(token_lines):
            parts.append("\n")
            pos += 1
    return TokenizedDoc(lines, "".join(parts))


def doc_for_texts(texts: List[str]) -> TokenizedDoc:
    return doc_for_token_lines([tokens_for_text(t) for t in texts])


def tag_values(doc_or_tokens) -> List[Optional[str]]:
    from sciencebeam_trainer_grobid_tools_spark.operators.annotate import strip_tag_prefix

    tokens = doc_or_tokens
    if isinstance(doc_or_tokens, TokenizedDoc):
        tokens = list(doc_or_tokens.iter_tokens())
    return [strip_tag_prefix(t.tag) for t in tokens]


def sub_tag_values(doc_or_tokens) -> List[Optional[str]]:
    from sciencebeam_trainer_grobid_tools_spark.operators.annotate import strip_tag_prefix

    tokens = doc_or_tokens
    if isinstance(doc_or_tokens, TokenizedDoc):
        tokens = list(doc_or_tokens.iter_tokens())
    return [strip_tag_prefix(t.sub_tag) for t in tokens]
