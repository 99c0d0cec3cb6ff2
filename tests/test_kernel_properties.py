"""Property-based differential tests for the alignment kernel.

The vectorized Smith-Waterman is checked against an independent scalar DP
oracle (same scoring, straightforward O(n*m) python) on random inputs, plus
structural invariants of the matching-block contract and the fuzzy search.
The native fuzzy search is checked against the pure-Python path.
"""

import random

import pytest
from conftest import forced_python_kernel
from hypothesis import given, settings, strategies as st

from sciencebeam_trainer_grobid_tools_spark.kernel.align import (
    GAP_SCORE,
    MATCH_SCORE,
    MISMATCH_SCORE,
    local_matching_blocks,
)
from sciencebeam_trainer_grobid_tools_spark.kernel import native
from sciencebeam_trainer_grobid_tools_spark.kernel.fuzzy import (
    MIN_WINDOW_LENGTH,
    FuzzyScore,
    fuzzy_search,
    fuzzy_search_chunks,
)
from sciencebeam_trainer_grobid_tools_spark.kernel.levenshtein import (
    levenshtein_distance,
)

ALPHABET = "abc "
texts = st.text(alphabet=ALPHABET, min_size=0, max_size=40)
small_texts = st.text(alphabet=ALPHABET, min_size=1, max_size=25)


def scalar_sw_best_score(a: str, b: str) -> int:
    """Independent scalar Smith-Waterman best local score."""
    n, m = len(a), len(b)
    best = 0
    prev = [0] * (n + 1)
    for j in range(1, m + 1):
        cur = [0] * (n + 1)
        for i in range(1, n + 1):
            sub = MATCH_SCORE if a[i - 1] == b[j - 1] else MISMATCH_SCORE
            cur[i] = max(0, prev[i - 1] + sub, prev[i] + GAP_SCORE, cur[i - 1] + GAP_SCORE)
            best = max(best, cur[i])
        prev = cur
    return best


def blocks_path_score(a: str, b: str, blocks) -> int:
    """Score of the alignment implied by the returned blocks: matches inside
    blocks, gaps between consecutive blocks (lower bound of the true path
    score since mismatch-diagonals are cheaper than double gaps)."""
    real = [blk for blk in blocks if blk[2]]
    if not real:
        return 0
    score = sum(size for _, _, size in real) * MATCH_SCORE
    for (a1, b1, s1), (a2, b2, _) in zip(real, real[1:]):
        gap_a = a2 - (a1 + s1)
        gap_b = b2 - (b1 + s1)
        # diagonal mismatches cover min(gap_a, gap_b); rest are gaps
        diag = min(gap_a, gap_b)
        score += diag * MISMATCH_SCORE + (gap_a + gap_b - 2 * diag) * GAP_SCORE
    return score


@settings(max_examples=200, deadline=None)
@given(a=texts, b=texts)
def test_sw_blocks_are_valid_and_monotonic(a, b):
    blocks = local_matching_blocks(a, b)
    assert blocks[-1] == (len(a), len(b), 0)  # difflib terminator
    real = [blk for blk in blocks if blk[2]]
    prev_a_end = prev_b_end = 0
    for ai, bi, size in real:
        assert 0 <= ai and ai + size <= len(a)
        assert 0 <= bi and bi + size <= len(b)
        assert ai >= prev_a_end and bi >= prev_b_end  # strictly ordered
        assert a[ai : ai + size] == b[bi : bi + size]  # blocks are true matches
        prev_a_end, prev_b_end = ai + size, bi + size


@settings(max_examples=200, deadline=None)
@given(a=small_texts, b=small_texts)
def test_sw_path_reaches_scalar_oracle_score(a, b):
    """The traceback's implied path must reach the scalar DP's best score
    (it can't exceed it; equality means we picked a maximal path)."""
    oracle = scalar_sw_best_score(a, b)
    blocks = local_matching_blocks(a, b)
    assert blocks_path_score(a, b, blocks) == oracle


@settings(max_examples=100, deadline=None)
@given(s=small_texts)
def test_identical_strings_fully_match(s):
    blocks = [blk for blk in local_matching_blocks(s, s) if blk[2]]
    assert blocks == [(0, 0, len(s))]


@settings(max_examples=100, deadline=None)
@given(haystack=texts, needle=small_texts)
def test_fuzzy_search_range_within_haystack(haystack, needle):
    fm = fuzzy_search(haystack, needle, threshold=0.8)
    if fm is not None:
        start, end = fm.a_index_range()
        assert 0 <= start <= end <= len(haystack)


@settings(max_examples=100, deadline=None)
@given(a=small_texts, b=small_texts)
def test_levenshtein_triangle_and_bounds(a, b):
    d = levenshtein_distance(a, b)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))
    assert d == levenshtein_distance(b, a)
    assert (d == 0) == (a == b)


@settings(max_examples=100, deadline=None)
@given(a=small_texts, b=small_texts)
def test_fuzzy_score_ratios_bounded(a, b):
    blocks = local_matching_blocks(a, b)
    fm = FuzzyScore(a, b, blocks)
    assert 0.0 <= fm.b_gap_ratio() <= 1.0 + 1e-9 or fm.b_gap_ratio() >= 0
    assert fm.match_count() >= 0


# whitespace the search masks, the junk characters it scores, non-ASCII
# letters and one astral-plane letter (past the C isalpha table)
SEARCH_ALPHABET = "abcdefgh abc\t\n*.,.\u00e9\u00df"
ASTRAL_LETTER = "\U0001d4d0"


def _search_text(rng: random.Random, length: int, astral_rate: float) -> str:
    return "".join(
        ASTRAL_LETTER if rng.random() < astral_rate else rng.choice(SEARCH_ALPHABET)
        for _ in range(length)
    )


def _mutated(rng: random.Random, s: str) -> str:
    chars = list(s)
    for _ in range(rng.randint(0, max(1, len(chars) // 15))):
        if chars:
            chars[rng.randrange(len(chars))] = rng.choice(SEARCH_ALPHABET)
    if chars and rng.random() < 0.3:
        cut = len(chars) // 3
        del chars[cut : cut + rng.randint(1, 5)]
    return "".join(chars)


def _chunk_blocks(result):
    return None if result is None else [chunk.blocks for chunk in result.chunks]


@pytest.mark.skipif(native.get_native_lib() is None, reason="needs gcc")
@settings(max_examples=200, deadline=None)
@given(
    rng=st.randoms(use_true_random=False),
    # masked lengths on both sides of the single-window limit
    haystack_length=st.sampled_from(
        [8, 40, 400, MIN_WINDOW_LENGTH - 10, MIN_WINDOW_LENGTH + 200, 2600]
    ),
    needle_kind=st.sampled_from(["piece", "two_pieces", "random"]),
    astral_rate=st.sampled_from([0.0, 0.003]),
    threshold=st.sampled_from([0.5, 0.8, 0.9, 1.0]),
    max_chunks=st.integers(1, 3),
    start_index=st.sampled_from([0, 0, 3, 17]),
)
def test_native_fuzzy_search_chunks_equals_python_path(
    rng, haystack_length, needle_kind, astral_rate, threshold, max_chunks, start_index
):
    haystack = _search_text(rng, haystack_length, astral_rate)

    def piece() -> str:
        at = rng.randrange(max(1, len(haystack) - 5))
        return _mutated(rng, haystack[at : at + rng.randint(3, 150)])

    if needle_kind == "piece":
        needle = piece()
    elif needle_kind == "two_pieces":
        needle = piece() + _search_text(rng, rng.randint(0, 20), 0.0) + piece()
    else:
        needle = _search_text(rng, rng.randint(5, 80), astral_rate)
    kwargs = dict(threshold=threshold, max_chunks=max_chunks, start_index=start_index)
    native_result = _chunk_blocks(fuzzy_search_chunks(haystack, needle, **kwargs))
    with forced_python_kernel():
        python_result = _chunk_blocks(fuzzy_search_chunks(haystack, needle, **kwargs))
    assert native_result == python_result


def _window_edge_case(rng: random.Random):
    """A needle copied from across the first window's end, with an odd length
    and threshold 0.5, so the edit allowance of the window size is an exact
    .5 and round-half-to-even decides where the first window ends."""
    needle_length = rng.choice([251, 301, 305, 401])
    haystack = "".join(rng.choice("abcd") for _ in range(rng.randint(1900, 2600)))
    at = rng.randint(1700, 1850)
    needle = list(haystack[at : at + needle_length])
    for _ in range(rng.randint(0, 30)):
        needle[rng.randrange(len(needle))] = rng.choice("abcd")
    return haystack, "".join(needle), dict(threshold=0.5, max_chunks=rng.randint(1, 2))


def _mixed_case(rng: random.Random):
    haystack = _search_text(
        rng, rng.choice([30, 200, 700, MIN_WINDOW_LENGTH + 100, 1600, 3000]), 0.003
    )

    def piece() -> str:
        at = rng.randrange(max(1, len(haystack) - 5))
        return _mutated(rng, haystack[at : at + rng.randint(3, 150)])

    needle = piece() + _search_text(rng, rng.randint(0, 20), 0.0) + piece()
    return haystack, needle, dict(
        threshold=rng.choice([0.5, 0.8, 0.9, 1.0]),
        max_chunks=rng.randint(2, 3),
        start_index=rng.choice([0, 0, 3, 17]),
    )


@pytest.mark.skipif(native.get_native_lib() is None, reason="needs gcc")
@pytest.mark.parametrize("make_case, count", [(_window_edge_case, 120), (_mixed_case, 1500)])
def test_native_fuzzy_search_chunks_seeded_sweep(make_case, count):
    """A fixed sweep that reaches the rare quirks (window-relative first
    chunks, the recursion start, half-to-even window rounding) more surely
    than the shrinking search above."""
    rng = random.Random(20261017)
    for _ in range(count):
        haystack, needle, kwargs = make_case(rng)
        native_result = _chunk_blocks(fuzzy_search_chunks(haystack, needle, **kwargs))
        with forced_python_kernel():
            python_result = _chunk_blocks(fuzzy_search_chunks(haystack, needle, **kwargs))
        assert native_result == python_result, (haystack, needle, kwargs)
