"""In-memory span recorder for the traced run.

A span is ``{trace, id, parent, name, start_ns, end_ns}``; spans
of one document share its url as ``trace``, spans around Spark actions share
the workload run's trace id and have the run span as parent.  Spans are kept
in memory and written as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Dict[str, object]] = []

    @contextmanager
    def span(self, name: str, trace: str, parent: Optional[int] = None) -> Iterator[Dict[str, object]]:
        record: Dict[str, object] = {
            "trace": trace, "id": len(self.spans) + 1, "parent": parent, "name": name
        }
        self.spans.append(record)
        record["start_ns"] = time.perf_counter_ns()
        try:
            yield record
        finally:
            record["end_ns"] = time.perf_counter_ns()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for record in self.spans:
                fh.write(json.dumps(record, default=str) + "\n")


def duration_s(record: Dict[str, object]) -> float:
    return (int(record["end_ns"]) - int(record["start_ns"])) / 1e9
