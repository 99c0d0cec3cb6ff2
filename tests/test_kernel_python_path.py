"""The kernel and golden end-to-end suites again on the pure-Python kernel.

Their own modules run on the default path, which is the native search
whenever gcc is available; collecting the same classes here under the
``python_kernel`` fixture runs them with the native library disabled, so the
goldens pin both paths to the same output.
"""

import pytest

from test_e2e_figure_golden import TestFigureGoldenEndToEnd  # noqa: F401
from test_e2e_fulltext_golden import TestFulltextGolden  # noqa: F401
from test_e2e_header_golden import TestHeaderGoldenEndToEnd  # noqa: F401
from test_e2e_reference_golden import TestReferenceGolden  # noqa: F401
from test_kernel_fuzzy import (  # noqa: F401
    TestAutoWindow,
    TestFuzzySearchIndexRange,
    TestIterFuzzySearchAll,
    TestJunkPrefixParity,
    TestStridedBlocks,
    TestStridedChunks,
)

pytestmark = pytest.mark.usefixtures("python_kernel")


def test_native_library_is_disabled():
    from sciencebeam_trainer_grobid_tools_spark.kernel import native

    assert native.get_native_lib() is None
