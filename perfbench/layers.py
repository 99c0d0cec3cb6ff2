"""For every per-layer metric in ``BENCHMARK.json``: the end-to-end metric
it should move and the workload whose traced run measures it ("all": every
one).  ``BENCHMARK.json`` holds the names, units and directions; its schema
has no room for this rationale, so it lives here.

A layer that a workload does not run reports 0 on that workload: no page
is parsed in ``curate_dedup``, no curation runs in ``annotate_rich``.  The
``resume.*`` metrics are measured in ``annotate_rich``'s traced run on the
same pages without their targets (the extraction-only job), because the
time budget of the benchmark leaves no room for a third workload.

The program reports no timings of its own, so some metrics are measured
from outside it in a way that differs from how the job runs:

- the five per-document stages (``extract``, ``doc``, ``targets``,
  ``annotate``, ``checks``) are timed in one driver process over a seeded
  sample of the corpus, calling the stages in the order
  ``annotate_document_row`` calls them; inside Spark's Python workers they
  cannot be timed without changing the kernel;
- ``resume.kernel_tasks_per_chunk`` counts the part files each chunk's
  manifest line lists (one per write task that produced rows);
- ``curation.*_s`` are differences between cumulative stage prefixes, each
  one Spark action, so they carry the noise of two runs and can be negative;
- ``trace.overhead_share`` compares jobs with and without a span around
  them in the same process; it is noise around zero, since spans sit only
  around whole jobs.
"""

from __future__ import annotations

from typing import Dict, Tuple

_RICH = ("docs_per_s", "annotate_rich")
_CURATE = ("docs_per_s", "curate_dedup")
_CURATE_MEM = ("peak_rss_mb", "curate_dedup")
_HOST = ("docs_per_s", "all")


def _stage(prefix: str) -> Dict[str, Tuple[str, str]]:
    return {prefix + suffix: _RICH for suffix in (".us_p50", ".us_p99", ".share")}


MOVES: Dict[str, Tuple[str, str]] = {
    # operators.extract: HTML -> lines
    **_stage("extract.html_to_lines"),
    # kernel.doc: tokenizer
    **_stage("doc.tokenize_lines"),
    "doc.tokens_per_doc": _RICH,
    # operators.targets: JATS -> target annotations
    **_stage("targets.xml_to_annotations"),
    "targets.values_per_doc": _RICH,
    # operators.annotate (+ kernel.fuzzy / align / native beneath it)
    **_stage("annotate.match"),
    "annotate.hit_ratio": _RICH,
    "native.loaded": _RICH,
    # operators.checks + span extraction
    **_stage("checks.spans_checks"),
    # plans.pipeline ledger: L0 scan+spread, L1 + identity mapInPandas, L2 + kernel
    "pipeline.scan_s": _RICH,
    "pipeline.arrow_s": _RICH,
    "pipeline.kernel_s": _RICH,
    "pipeline.kernel_share": _RICH,
    # streaming.resume
    "resume.chunk_s_p50": _RICH,
    "resume.chunk_s_max": _RICH,
    "resume.chunk_growth": _RICH,
    "resume.overhead_share": _RICH,
    "resume.bytes_per_doc": _RICH,
    "resume.kernel_tasks_per_chunk": _RICH,
    # plans.curation: cumulative prefixes through its stage toggles
    "curation.base_s": _CURATE,
    "curation.c4_s": _CURATE,
    "curation.gopher_s": _CURATE,
    "curation.repetition_s": _CURATE,
    "curation.classifier_s": _CURATE,
    "curation.sample_s": _CURATE,
    "curation.survivor_frac": _CURATE,
    "curation.exchanges": _CURATE_MEM,
    "curation.plan_kb": _CURATE_MEM,
    # operators.dedup: MinHash LSH
    "dedup.minhash_s": _CURATE,
    "dedup.minhash_pairs": _CURATE_MEM,
    "dedup.planted_recall": _CURATE,
    "dedup.minhash_exchanges": _CURATE_MEM,
    # tracing cost and host conditions of the traced run
    "trace.overhead_share": _HOST,
    "host.nproc": _HOST,
    "host.load1": _HOST,
    "host.steal_pct": _HOST,
    "host.calib_cpu_ms": _HOST,
    "host.calib_mem_ms": _HOST,
}
