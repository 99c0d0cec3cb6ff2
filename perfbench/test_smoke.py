"""Smoke test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Every metric named in BENCHMARK.json must be printed with its unit for
every workload, and a corrupted output row must fail the output checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    BENCHMARK = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_run_prints_every_metric_with_its_unit(workload, trace):
    cmd = BENCHMARK["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "0.1",
        "--trace", str(trace), "--scale", "0.1",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(summary) == {"correct", "attempted", "failed", "metrics"}
    assert summary["correct"] is True and summary["failed"] == 0
    assert summary["attempted"] >= 1
    expected = BENCHMARK["per_layer"] if trace else BENCHMARK["end_to_end"]
    assert {name: m["unit"] for name, m in summary["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected
    }
    assert all(isinstance(m["value"], (int, float)) for m in summary["metrics"].values())
    if trace:
        report = json.loads(proc.stdout.strip().splitlines()[-2])
        assert all(m["moves"] in {e["name"] for e in BENCHMARK["end_to_end"]} for m in report["metrics"].values())


def _reference_rows(n):
    from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import annotate_document_row
    from sciencebeam_trainer_grobid_tools_spark.sources.corpus import DEFAULT_XML_MAPPING, generate_document

    docs = [generate_document(7, i) for i in range(n)]
    return {
        d["url"]: annotate_document_row(d["url"], d["html"], d["text"], d["target_xml"], DEFAULT_XML_MAPPING)
        for d in docs
    }


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda row: row.update(extracted_text=row["extracted_text"] + " "),
        lambda row: row.update(spans=row["spans"][1:]),
        lambda row: row.update(sub_spans=[dict(s, end=s["end"] + 1) for s in row["sub_spans"]]),
        lambda row: row.update(passed=not row["passed"]),
    ],
)
def test_a_corrupted_output_row_fails_the_check(corrupt):
    from perfbench.workloads import compare_annotated

    reference = _reference_rows(3)
    rows = {url: dict(ref) for url, ref in reference.items()}
    assert compare_annotated(rows, reference) == []
    corrupt(rows[sorted(rows)[1]])
    assert compare_annotated(rows, reference)


def test_a_failed_output_check_fails_every_document_of_the_run():
    from perfbench.workloads import CheckResult

    assert CheckResult(100, 0, []).ok
    failed = CheckResult(100, 2, ["a url differs"])
    assert not failed.ok and failed.failed == 100 and failed.failed_frac == 1.0
    assert CheckResult(100, 3, []).failed_frac == 0.03


def test_missing_duplicated_or_errored_documents_count_as_failed():
    from perfbench.workloads import count_url_failures

    urls = ["a", "b", "c"]
    assert count_url_failures(urls, [None] * 3, urls) == (0, [])
    assert count_url_failures(["a", "b", "b"], [None] * 3, urls)[0] == 2
    assert count_url_failures(urls, [None, "ValueError: x", None], urls)[0] == 1


def test_a_stale_recrawl_or_a_missed_near_duplicate_fails_the_check():
    from perfbench.workloads import compare_curation

    recrawls, planted = {1: 11}, [(2, 22)]
    good = compare_curation([11, 2, 22], [(2, 22)], [11, 2, 3, 22], recrawls, planted)
    assert good == ([], 1.0)
    assert compare_curation([1, 11, 2, 22], [(2, 22)], [11, 2, 3, 22], recrawls, planted)[0]
    assert compare_curation([11, 2, 22], [(2, 22)], [1, 11, 2, 3, 22], recrawls, planted)[0]
    problems, recall = compare_curation([11, 2, 22], [], [11, 2, 3, 22], recrawls, planted)
    assert problems and recall == 0.0
