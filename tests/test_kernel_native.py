"""The one-call native fuzzy search against the pure-Python path: whole
documents through ``annotate_document_row``, the inputs the C search hands
back to Python, and the compile step's clean-up when gcc fails."""

import os
import subprocess

import pytest
from conftest import forced_python_kernel

from sciencebeam_trainer_grobid_tools_spark.kernel import native
from sciencebeam_trainer_grobid_tools_spark.kernel.fuzzy import fuzzy_search_chunks
from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import annotate_document_row
from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
    DEFAULT_XML_MAPPING,
    generate_document,
)

needs_native = pytest.mark.skipif(native.get_native_lib() is None, reason="needs gcc")

ASTRAL_LETTER = "\U0001d4d0"


def _annotate(doc) -> dict:
    return annotate_document_row(
        doc["url"], doc["html"], doc["text"], doc["target_xml"], DEFAULT_XML_MAPPING
    )


def _chunk_blocks(result):
    return None if result is None else [chunk.blocks for chunk in result.chunks]


@needs_native
@pytest.mark.parametrize("seed", [42, 7, 101])
def test_annotate_document_row_same_on_both_paths(seed):
    docs = [generate_document(seed, index) for index in range(12)]
    # one page with a body 50x the default draw (the corpus' skew tail)
    docs.append(generate_document(seed, 12, n_paragraphs_override=150))
    native_rows = [_annotate(doc) for doc in docs]
    with forced_python_kernel():
        python_rows = [_annotate(doc) for doc in docs]
    assert native_rows == python_rows


def _long_search_case():
    haystack = "Smith J. and Jones K. " * 10 + "the abstract of the paper follows. " * 40
    return haystack, "the abstract of the paper follows."


@needs_native
def test_astral_letter_before_dot_falls_back_to_python_path():
    haystack, needle = _long_search_case()
    haystack = haystack + "word" + ASTRAL_LETTER + ". tail"
    # the C search cannot tell whether the astral letter makes '.' junk
    assert native.native_fuzzy_search_chunks(haystack, needle, 0.8, 2, 0) is None
    native_result = _chunk_blocks(fuzzy_search_chunks(haystack, needle, 0.8, max_chunks=2))
    with forced_python_kernel():
        python_result = _chunk_blocks(fuzzy_search_chunks(haystack, needle, 0.8, max_chunks=2))
    assert native_result is not None
    assert native_result == python_result


@needs_native
def test_forced_sentinel_returns_python_result(monkeypatch):
    haystack, needle = _long_search_case()
    assert native.native_fuzzy_search_chunks(haystack, needle, 0.8, 2, 0)
    monkeypatch.setattr(native.get_native_lib(), "fuzzy_search_chunks", lambda *args: -1)
    assert native.native_fuzzy_search_chunks(haystack, needle, 0.8, 2, 0) is None
    native_result = _chunk_blocks(fuzzy_search_chunks(haystack, needle, 0.8, max_chunks=2))
    with forced_python_kernel():
        python_result = _chunk_blocks(fuzzy_search_chunks(haystack, needle, 0.8, max_chunks=2))
    assert native_result is not None
    assert native_result == python_result


def test_failed_compile_leaves_no_files(tmp_path, monkeypatch):
    def failing_run(*args, **kwargs):
        raise subprocess.CalledProcessError(1, args[0])

    monkeypatch.setattr(native, "_cache_dir_candidates", lambda: iter([str(tmp_path)]))
    monkeypatch.setattr(native.subprocess, "run", failing_run)
    assert native._compile() is None
    assert os.listdir(tmp_path) == []


def test_c_search_constants_match_python():
    from sciencebeam_trainer_grobid_tools_spark.kernel.align import MAX_DP_CELLS
    from sciencebeam_trainer_grobid_tools_spark.kernel.fuzzy import MIN_WINDOW_LENGTH

    assert "#define FZ_MAX_DP_CELLS %dLL\n" % MAX_DP_CELLS in native._C_SOURCE
    assert "#define FZ_MIN_WINDOW_LENGTH %d\n" % MIN_WINDOW_LENGTH in native._C_SOURCE
