"""The three workloads: seeded inputs, the timed job, the output checks and
the traced per-layer measurements.

Every job goes through the package's public entry points; the benchmark
only times the calls and checks what comes out.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import statistics
import time
from contextlib import contextmanager
from typing import Dict, Iterable, Iterator, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from sciencebeam_trainer_grobid_tools_spark.kernel.doc import tokenize_lines
from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
    MatcherConfig,
    SimpleMatcher,
    extract_entity_spans,
    extract_sub_entity_spans,
)
from sciencebeam_trainer_grobid_tools_spark.operators.checks import check_document
from sciencebeam_trainer_grobid_tools_spark.operators.dedup import minhash_candidate_pairs
from sciencebeam_trainer_grobid_tools_spark.operators.extract import html_to_lines
from sciencebeam_trainer_grobid_tools_spark.operators.targets import (
    get_tag_config_map,
    parse_xml_mapping_string,
    xml_string_to_target_annotations,
)
from sciencebeam_trainer_grobid_tools_spark.operators.urlnorm import dedup_by_canonical_url
from sciencebeam_trainer_grobid_tools_spark.plans.curation import curate_corpus
from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import annotate_document_row, annotate_documents
from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
    DEFAULT_XML_MAPPING,
    generate_document,
    sized_corpus_dataframe,
)
from sciencebeam_trainer_grobid_tools_spark.streaming.resume import run_resumable

from . import env
from .trace import Tracer, duration_s

CHECK_SAMPLE = 24  # urls compared against annotate_document_row per run
WARM_FRACTION = 10  # the warm-up job reads this fraction of the input
RESUME_CHUNKS = 4  # chunks of the traced resumable run
TRACE_SAMPLE = 400  # documents in the traced per-stage pass


def paragraph_profile(n_docs: int) -> List[int]:
    """Body paragraphs per document: 2-5 in turn, and exactly one document
    in a hundred 50x longer (the generator's 1% skew tail at its nominal
    share).  With the sizes fixed the seed changes the content, not the
    amount of work, so runs with different seeds stay comparable."""
    return [(2 + i % 4) * (50 if i % 100 == 37 else 1) for i in range(n_docs)]


class Context:
    def __init__(self, spark: SparkSession, seed: int, scale: float, run_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.run_dir = run_dir
        self.parallelism = spark.sparkContext.defaultParallelism
        self.trace_id = "run-%d" % seed
        self.phases: Dict[str, float] = {}  # set-up phase -> seconds

    @contextmanager
    def phase(self, name: str) -> Iterator[None]:
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    def size(self, n: int) -> int:
        return max(8, int(round(n * self.scale)))

    def path(self, *parts: str) -> str:
        return env.work_dir(self.run_dir, *parts)

    def rng(self, salt: int) -> random.Random:
        return random.Random(self.seed * 1_000_003 + salt)


class CheckResult:
    """``attempted``: documents over every checked job; ``failed``: those
    with an error, missing from or duplicated in the output."""

    def __init__(self, attempted: int, failed: int, problems: List[str]) -> None:
        self.attempted = attempted
        self.problems = problems
        # a run whose output check failed counts all of its documents
        self.failed = attempted if problems else failed

    @property
    def ok(self) -> bool:
        return self.failed == 0

    @property
    def failed_frac(self) -> float:
        return self.failed / max(1, self.attempted)


class Workload:
    name = ""
    n_docs = 0  # input documents per timed job
    warm_reps = 0  # full-size warm-up jobs after the small one
    docs: DataFrame  # the timed job's input

    def __init__(self) -> None:
        self.outcomes: List = []  # what each job since warm-up left to check

    def setup(self, ctx: Context) -> None:
        raise NotImplementedError

    def run_once(self, ctx: Context, docs: DataFrame) -> int:
        """One timed job over ``docs``; appends what its check needs to
        ``outcomes`` and returns the documents it completed."""
        raise NotImplementedError

    def check(self, ctx: Context) -> CheckResult:
        raise NotImplementedError

    def trace_layers(self, ctx: Context, tracer: Tracer, run_span: int) -> Dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# output checks (pure functions; the smoke test feeds them corrupted rows)


def _span_tuples(spans) -> List[Tuple]:
    return [(s["field"], s["start"], s["end"], s["text"]) for s in spans or []]


def compare_annotated(rows: Dict[str, dict], reference: Dict[str, dict]) -> List[str]:
    """Spark output rows vs ``annotate_document_row`` on the same inputs:
    byte-identical ``extracted_text``, exact ``spans``/``sub_spans``/``passed``."""
    problems = []
    for url, ref in sorted(reference.items()):
        row = rows.get(url)
        if row is None:
            problems.append("%s: missing from the sample output" % url)
            continue
        for key in ("extracted_text", "passed"):
            if row[key] != ref[key]:
                problems.append("%s: %s differs" % (url, key))
        for key in ("spans", "sub_spans"):
            if _span_tuples(row[key]) != _span_tuples(ref[key]):
                problems.append("%s: %s differ" % (url, key))
    return problems


def count_url_failures(
    output_urls: Iterable[str], errors: Iterable[Optional[str]], input_urls: Iterable[str]
) -> Tuple[int, List[str]]:
    """Documents with an error, missing from or duplicated in the output."""
    counts: Dict[str, int] = {}
    for url in output_urls:
        counts[url] = counts.get(url, 0) + 1
    expected = set(input_urls)
    failed = {url for url, n in counts.items() if n != 1}
    failed |= expected - set(counts)
    strays = set(counts) - expected
    problems = ["%d output urls are not inputs" % len(strays)] if strays else []
    errored = sum(1 for e in errors if e is not None)
    return len(failed) + errored, problems


def compare_curation(
    survivors: Sequence[int],
    pairs: Iterable[Tuple[int, int]],
    folded: Sequence[int],
    recrawls: Dict[int, int],
    planted: Sequence[Tuple[int, int]],
) -> Tuple[List[str], float]:
    """``folded``: ids left by the canonical-url dedup; ``recrawls``:
    original id -> newer recrawl id; ``planted``: near-duplicate id pairs.
    Returns (problems, planted recall among pairs whose two docs survive)."""
    problems = []
    kept = set(folded)
    if len(kept) != len(folded):
        problems.append("dedup emitted an id twice")
    stale = [orig for orig, new in recrawls.items() if orig in kept or new not in kept]
    if stale:
        problems.append("%d recrawls did not fold to their newest copy" % len(stale))
    alive = set(survivors)
    if not alive:
        problems.append("no page survived curation")
    if any(orig in alive for orig in recrawls):
        problems.append("a stale recrawl copy survived curation")
    found = {(min(a, b), max(a, b)) for a, b in pairs}
    live = [(min(a, b), max(a, b)) for a, b in planted if a in alive and b in alive]
    if not live:
        problems.append("no planted near-duplicate pair survived curation")
        return problems, 0.0
    recall = sum(1 for p in live if p in found) / len(live)
    if recall < 1.0:
        problems.append("planted near-duplicate recall %.3f < 1" % recall)
    return problems, recall


# ---------------------------------------------------------------------------
# per-document stage pass (traced run)


def _percentile(values: Sequence[float], q: float) -> float:
    ordered = sorted(values)
    if not ordered:
        return 0.0
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def traced_document_pass(rows: Sequence[dict], tracer: Tracer) -> Dict[str, float]:
    """Call the stages in the order ``annotate_document_row`` calls them,
    one trace per document (its url), one span per stage."""
    mapping = parse_xml_mapping_string(DEFAULT_XML_MAPPING)
    tag_config_map = get_tag_config_map(mapping)
    stages = (
        "extract.html_to_lines",
        "doc.tokenize_lines",
        "targets.xml_to_annotations",
        "annotate.match",
        "checks.spans_checks",
    )
    times: Dict[str, List[float]] = {s: [] for s in stages}
    tokens = values = attempts = hits = 0
    for row in rows:
        url = row["url"]
        with tracer.span("document", url) as doc_span:
            parent = doc_span["id"]
            with tracer.span(stages[0], url, parent) as s0:
                lines = html_to_lines(row["html"])
            with tracer.span(stages[1], url, parent) as s1:
                doc = tokenize_lines(lines)
            targets = []
            s2 = None
            if row.get("target_xml"):
                with tracer.span(stages[2], url, parent) as s2:
                    targets = xml_string_to_target_annotations(row["target_xml"], mapping)
            with tracer.span(stages[3], url, parent) as s3:
                SimpleMatcher(
                    targets,
                    MatcherConfig(
                        threshold=0.8,
                        lookahead_sequence_count=500,
                        use_sub_annotations=True,
                        tag_config_map=tag_config_map,
                    ),
                ).annotate(doc)
            with tracer.span(stages[4], url, parent) as s4:
                spans = extract_entity_spans(doc)
                extract_sub_entity_spans(doc)
                check_document(doc, targets, require_matching_fields={"title"})
        for stage, record in zip(stages, (s0, s1, s2, s3, s4)):
            times[stage].append(duration_s(record) if record else 0.0)
        tokens += sum(len(line) for line in doc.lines)
        values += len(targets)
        fields = {t.name for t in targets}
        attempts += len(fields)
        hits += len(fields & {str(s["field"]) for s in spans})
    total = sum(sum(v) for v in times.values()) or 1.0
    n = max(1, len(rows))
    out: Dict[str, float] = {}
    for stage, samples in times.items():
        out[stage + ".us_p50"] = _percentile(samples, 0.50) * 1e6
        out[stage + ".us_p99"] = _percentile(samples, 0.99) * 1e6
        out[stage + ".share"] = sum(samples) / total
    out["doc.tokens_per_doc"] = tokens / n
    out["targets.values_per_doc"] = values / n
    out["annotate.hit_ratio"] = hits / attempts if attempts else 0.0
    return out


def _warm_up(workload: "Workload", ctx: Context, warm: DataFrame) -> None:
    """One job over a small input of the same plan shape (Python workers
    start and load the native kernel, plans are code-generated), then
    ``workload.warm_reps`` jobs over the real input, until the JIT settles.
    Only the jobs after it are checked."""
    workload.run_once(ctx, warm)
    for _ in range(workload.warm_reps):
        workload.run_once(ctx, workload.docs)
    workload.outcomes = []


def _manifest(out: str) -> List[dict]:
    with open(os.path.join(out, "manifest.jsonl"), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def traced_resume(
    ctx: Context, tracer: Tracer, run_span: int, docs: DataFrame, n_docs: int
) -> Tuple[Dict[str, float], DataFrame, List[str]]:
    """``run_resumable`` as ``cli.annotate_corpus`` calls it
    (repartition=defaultParallelism), one chunk per call so that each chunk
    is a span, then a one-shot annotate+write of the same pages.  Returns
    the metrics, the written output and what its checks found."""
    out = ctx.path("trace-resume")
    chunk_size = -(-n_docs // RESUME_CHUNKS)
    walls = []
    while True:
        with tracer.span("resume.chunk", ctx.trace_id, run_span) as record:
            done = run_resumable(
                ctx.spark, docs, out, chunk_size=chunk_size, max_chunks=1, repartition=ctx.parallelism
            )
        walls.append(duration_s(record))
        if not done["chunks"]:
            break
    resumable_s = sum(walls)
    walls = walls[:-1]  # the last call only finds nothing left
    oneshot_s = _timed_action(
        tracer, "resume.oneshot", ctx, run_span,
        lambda: annotate_documents(docs, repartition=ctx.parallelism).write.parquet(
            ctx.path("trace-oneshot")
        ),
    )
    data = os.path.join(out, "annotated")
    parts = [os.path.join(data, f) for f in os.listdir(data) if f.startswith("part-")]
    part_bytes = sum(os.path.getsize(path) for path in parts)
    manifest = _manifest(out)
    metrics = {
        "resume.chunk_s_p50": statistics.median(walls),
        "resume.chunk_s_max": max(walls),
        "resume.chunk_growth": walls[-1] / walls[0],
        "resume.overhead_share": 1.0 - oneshot_s / resumable_s,
        "resume.bytes_per_doc": part_bytes / n_docs,
        "resume.kernel_tasks_per_chunk": statistics.mean(len(m["partition_files"]) for m in manifest),
    }
    # every input url exactly once across the part files, manifest rows
    # summing to the input
    output = ctx.spark.read.parquet(data)
    collected = output.select("url", "error").collect()
    failed, problems = count_url_failures(
        (r.url for r in collected),
        (r.error for r in collected),
        (r.url for r in docs.select("url").collect()),
    )
    if failed:
        problems.append("%d documents failed in the resumable output" % failed)
    rows = sum(int(m["rows"]) for m in manifest)
    if rows != n_docs:
        problems.append("manifest rows sum to %d, input has %d" % (rows, n_docs))
    return metrics, output, problems


def _identity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    yield from batches


def _timed_action(tracer: Tracer, name: str, ctx: Context, parent: int, action) -> float:
    with tracer.span(name, ctx.trace_id, parent) as record:
        action()
    return duration_s(record)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _exchanges(df: DataFrame) -> Tuple[int, int]:
    """(Exchange operators, plan characters) of the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange "), len(plan)


# ---------------------------------------------------------------------------
# workloads


class AnnotateRich(Workload):
    """Rich pages with JATS targets -> annotate_documents -> no-op sink."""

    name = "annotate_rich"
    base_docs = 2000
    warm_reps = 1  # measured: jobs keep getting faster over the first few
    spread = 4  # kernel partitions per core: evens out the 50x documents

    def setup(self, ctx: Context) -> None:
        self.trace_problems: List[str] = []  # what the traced run's checks found
        self.n_docs = ctx.size(self.base_docs)
        self.width = ctx.parallelism * self.spread
        profile = paragraph_profile(self.n_docs)
        with ctx.phase("corpus"):
            self.docs = self._write_corpus(ctx, "corpus", profile)
            warm = self._write_corpus(ctx, "warm-corpus", profile[: max(8, self.n_docs // WARM_FRACTION)])
        with ctx.phase("warmup"):
            _warm_up(self, ctx, warm)

    @staticmethod
    def _write_corpus(ctx: Context, name: str, profile: List[int]) -> DataFrame:
        sized_corpus_dataframe(ctx.spark, profile, seed=ctx.seed, partitions=ctx.parallelism).write.parquet(
            ctx.path(name)
        )
        return ctx.spark.read.parquet(ctx.path(name))

    def run_once(self, ctx: Context, docs: DataFrame) -> int:
        # the Observation rides on the job itself: its document and error
        # counts are checked afterwards at no extra cost
        observation = Observation()
        _noop(annotate_documents(docs, repartition=self.width, observation=observation))
        self.outcomes.append(observation.get)
        return self.n_docs

    @staticmethod
    def _sample_inputs(ctx: Context, docs: DataFrame, k: int, salt: int) -> List[dict]:
        """Seeded url sample, read back from the corpus the job reads."""
        urls = [row.url for row in docs.select("url").collect()]
        picked = ctx.rng(salt).sample(sorted(urls), min(k, len(urls)))
        rows = docs.filter(F.col("url").isin(picked)).collect()
        return sorted((r.asDict() for r in rows), key=lambda r: r["url"])

    @staticmethod
    def _compare_sample(output: DataFrame, inputs: List[dict]) -> List[str]:
        sample = [r["url"] for r in inputs]
        rows = output.filter(F.col("url").isin(sample)).select(
            "url", "extracted_text", "spans", "sub_spans", "passed"
        ).collect()
        reference = {
            r["url"]: annotate_document_row(
                r["url"], r["html"], r["text"], r.get("target_xml"), DEFAULT_XML_MAPPING
            )
            for r in inputs
        }
        return compare_annotated({r.url: r.asDict() for r in rows}, reference)

    def check(self, ctx: Context) -> CheckResult:
        """Every timed job's observed document and error counts; then one
        more full-size job, the timed plan written to parquet instead of the
        no-op sink: every input url must appear in it exactly once, without
        an error, and a seeded url sample must equal annotate_document_row."""
        attempted = self.n_docs * len(self.outcomes)
        processed = sum(int(o["docs_processed"] or 0) for o in self.outcomes)
        failed = abs(attempted - processed) + sum(int(o["errors"] or 0) for o in self.outcomes)
        out = ctx.path("checked")
        annotate_documents(self.docs, repartition=self.width).write.parquet(out)
        output = ctx.spark.read.parquet(out)
        collected = output.select("url", "error").collect()
        written_failed, problems = count_url_failures(
            (r.url for r in collected),
            (r.error for r in collected),
            (r.url for r in self.docs.select("url").collect()),
        )
        problems += self._compare_sample(output, self._sample_inputs(ctx, self.docs, CHECK_SAMPLE, salt=1))
        return CheckResult(
            attempted + self.n_docs, failed + written_failed, problems + self.trace_problems
        )

    def _ledger(self, ctx: Context, tracer: Tracer, run_span: int, reps: int = 2) -> Dict[str, float]:
        """L0 scan + spread, L1 + identity mapInPandas (the Arrow round
        trip), L2 + the kernel; interleaved, median of ``reps``."""
        cols = [c for c in ("url", "warc_ts", "html", "text", "lang", "target_xml") if c in self.docs.columns]
        spread = self.docs.select(*cols).repartition(self.width, F.xxhash64("url"))
        plans = {
            "L0": spread,
            "L1": spread.mapInPandas(_identity, schema=spread.schema),
            "L2": annotate_documents(self.docs, repartition=self.width),
        }
        walls: Dict[str, List[float]] = {k: [] for k in plans}
        for _ in range(reps):
            for level, df in plans.items():
                walls[level].append(
                    _timed_action(tracer, "pipeline." + level, ctx, run_span, lambda df=df: _noop(df))
                )
        l0, l1, l2 = (statistics.median(walls[k]) for k in ("L0", "L1", "L2"))
        return {
            "pipeline.scan_s": l0,
            "pipeline.arrow_s": l1 - l0,
            "pipeline.kernel_s": l2 - l1,
            "pipeline.kernel_share": (l2 - l1) / l2 if l2 else 0.0,
        }

    def trace_layers(self, ctx: Context, tracer: Tracer, run_span: int) -> Dict[str, float]:
        inputs = self._sample_inputs(ctx, self.docs, TRACE_SAMPLE, salt=2)
        metrics = traced_document_pass(inputs, tracer)
        metrics.update(self._ledger(ctx, tracer, run_span))
        # the resumable writer on the same pages without targets: the
        # extraction-only job most crawled pages get
        pages = self.docs.drop("target_xml")
        resume, output, problems = traced_resume(ctx, tracer, run_span, pages, self.n_docs)
        metrics.update(resume)
        problems += self._compare_sample(output, self._sample_inputs(ctx, pages, CHECK_SAMPLE, salt=1))
        self.trace_problems = problems
        return metrics


class CurateDedup(Workload):
    """Pages + recrawl copies + near-duplicates -> curate_corpus -> MinHash."""

    name = "curate_dedup"
    warm_reps = 1  # measured: the first full jobs run 1.6x, then 1.2x slower
    base_pages = 800
    recrawl_share = 0.10
    neardup_share = 0.05
    tokens_per_page_budget = 110  # token-budget sample keeps most pages

    def stage_kwargs(self, n_pages: int) -> dict:
        return dict(
            id_col="doc_id",
            url_col="url",
            ts_col="warc_ts",
            c4={},
            # C4 drops the affiliation lines, the only ones with Gopher
            # stopwords in this vocabulary: the stopword rule would keep no
            # page, so it is off and the word-count rule does the cutting
            gopher={"min_words": 120, "min_stopword_hits": 0},
            max_dup_ngram_frac=0.2,
            clf_threshold=0.3,
            budget_tokens=n_pages * self.tokens_per_page_budget,
        )

    PREFIXES = (
        ("curation.base_s", ()),
        ("curation.c4_s", ("c4",)),
        ("curation.gopher_s", ("gopher",)),
        ("curation.repetition_s", ("max_dup_ngram_frac",)),
        ("curation.classifier_s", ("clf_threshold",)),
        ("curation.sample_s", ("budget_tokens",)),
    )

    def setup(self, ctx: Context) -> None:
        n = ctx.size(self.base_pages)
        profile = paragraph_profile(n)
        rows = []
        for i in range(n):
            doc = generate_document(ctx.seed, i, n_paragraphs_override=profile[i])
            rows.append({"doc_id": i, **{k: doc[k] for k in ("url", "warc_ts", "text", "lang")}})
        n_recrawl = max(2, int(n * self.recrawl_share))
        picked = ctx.rng(3).sample(range(n), n_recrawl + max(2, int(n * self.neardup_share)))
        self.recrawls: Dict[int, int] = {}
        for j, i in enumerate(picked[:n_recrawl]):
            copy = dict(rows[i])
            copy["doc_id"] = n + j
            # a recrawl under a url variant that canonicalizes to the same page
            copy["url"] = rows[i]["url"].replace("example.org", "EXAMPLE.org") + "/?utm_source=feed"
            copy["warc_ts"] = rows[i]["warc_ts"] + datetime.timedelta(days=30)
            rows.append(copy)
            self.recrawls[i] = n + j
        self.planted: List[Tuple[int, int]] = []
        for j, i in enumerate(picked[n_recrawl:]):
            words = rows[i]["text"].split(" ")
            words[len(words) // 2] = "variant"
            url = "https://mirror.example.net/copy/%08d" % i
            copy = dict(rows[i], doc_id=2 * n + j, url=url, text=" ".join(words))
            rows.append(copy)
            self.planted.append((i, 2 * n + j))
        self.n_docs = len(rows)
        self.n_pages = n
        with ctx.phase("corpus"):
            self.docs = self._write_pages(ctx, "pages", rows)
            warm = self._write_pages(ctx, "warm-pages", rows[: max(8, len(rows) // WARM_FRACTION)])
        with ctx.phase("warmup"):
            _warm_up(self, ctx, warm)

    @staticmethod
    def _write_pages(ctx: Context, name: str, rows: List[dict]) -> DataFrame:
        ctx.spark.createDataFrame(
            pd.DataFrame(rows), "doc_id long, url string, warc_ts timestamp, text string, lang string"
        ).repartition(ctx.parallelism).write.parquet(ctx.path(name))
        return ctx.spark.read.parquet(ctx.path(name))

    def _curate(self, pages: DataFrame, stages: Optional[Iterable[str]] = None) -> DataFrame:
        kwargs = self.stage_kwargs(self.n_pages)
        if stages is not None:
            optional = {"c4", "gopher", "max_dup_ngram_frac", "clf_threshold", "budget_tokens"}
            for key in optional - set(stages):
                kwargs.pop(key)
        return curate_corpus(pages, persist_intermediate=True, **kwargs)

    def run_once(self, ctx: Context, docs: DataFrame) -> int:
        # the curated table is kept (as a production run would write it) and
        # MinHash reads it, instead of re-deriving the curation plan
        curated = self._curate(docs).select("doc_id", "text").persist()
        survivors = [r.doc_id for r in curated.select("doc_id").collect()]
        pairs = minhash_candidate_pairs(curated).collect()
        ctx.spark.catalog.clearCache()
        self.outcomes.append((survivors, [(r.doc_id_a, r.doc_id_b) for r in pairs]))
        return self.n_docs

    def _folded(self) -> List[int]:
        folded = dedup_by_canonical_url(self.docs, url_col="url", ts_col="warc_ts")
        return [r.doc_id for r in folded.select("doc_id").collect()]

    def check(self, ctx: Context) -> CheckResult:
        """Every timed job's survivors and candidate pairs; a job whose
        check fails counts all of its documents."""
        folded = self._folded()
        problems: List[str] = []
        failed = 0
        for survivors, pairs in self.outcomes:
            found, _ = compare_curation(survivors, pairs, folded, self.recrawls, self.planted)
            failed += self.n_docs if found else 0
            problems += [p for p in found if p not in problems]
        return CheckResult(self.n_docs * len(self.outcomes), failed, problems)

    def trace_layers(self, ctx: Context, tracer: Tracer, run_span: int) -> Dict[str, float]:
        metrics: Dict[str, float] = {}
        stages: List[str] = []
        previous = 0.0
        for name, added in self.PREFIXES:
            stages.extend(added)
            df = self._curate(self.docs, stages)
            wall = _timed_action(tracer, name[:-2], ctx, run_span, df.count)
            ctx.spark.catalog.clearCache()
            metrics[name] = wall - previous
            previous = wall
        curated = self._curate(self.docs)
        metrics["curation.exchanges"], plan_chars = _exchanges(curated)
        metrics["curation.plan_kb"] = plan_chars / 1024.0
        # MinHash on its own, over the curated pages written out as a
        # production run would write them
        _timed_action(
            tracer, "curation.write", ctx, run_span,
            lambda: curated.select("doc_id", "text").write.parquet(ctx.path("trace-curated")),
        )
        ctx.spark.catalog.clearCache()
        survivors = ctx.spark.read.parquet(ctx.path("trace-curated"))
        ids = [r.doc_id for r in survivors.select("doc_id").collect()]
        metrics["curation.survivor_frac"] = len(ids) / self.n_docs
        minhash = minhash_candidate_pairs(survivors)
        metrics["dedup.minhash_exchanges"], _ = _exchanges(minhash)
        with tracer.span("dedup.minhash", ctx.trace_id, run_span) as record:
            pairs = [(r.doc_id_a, r.doc_id_b) for r in minhash.collect()]
        metrics["dedup.minhash_s"] = duration_s(record)
        ctx.spark.catalog.clearCache()
        metrics["dedup.minhash_pairs"] = float(len(pairs))
        _, metrics["dedup.planted_recall"] = compare_curation(
            ids, pairs, self._folded(), self.recrawls, self.planted
        )
        return metrics


WORKLOADS = {w.name: w for w in (AnnotateRich, CurateDedup)}
