"""The product path: QueryInfo landing dir -> summary -> silver -> report.

Calls the package's public functions in the order ``cli.cmd_extract`` and
``cli.cmd_analyze`` do, landing silver as date-partitioned parquet with
``append_silver`` and reporting from ``read_silver`` (the persisted-silver
posture).

The measured landing dir is one of ``CORPORA`` seeded corpora, picked by
``seed mod CORPORA``, and ``digests.json`` holds the report digest recorded
for each of them, so every seed is checked against a golden.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from presto_workload_analyzer_spark.pipeline import (
    ANALYZERS,
    SILVER_TABLES,
    append_silver,
    build_silver,
    read_silver,
    run_analyzers,
)
from presto_workload_analyzer_spark.plans.flatten import iter_plan_rows, iter_task_rows
from presto_workload_analyzer_spark.report.emitter import build_report, write_report
from presto_workload_analyzer_spark.sources.queryinfo import (
    extract_queryinfo,
    read_summary_jsonl,
    summarize_queryinfo,
    write_summary_jsonl,
)

import checks
import corpus
from spans import Tracer, total

SCATTER_LIMIT = 50_000  # the `cli analyze --scatter-limit` default
CORPORA = 30  # distinct measured corpora, each with a recorded digest
DOCS = 48  # documents in the measured landing dir
WARM_DOCS = 8  # documents in the warm-up landing dir
PROBE_DOCS = 12  # documents in the in-driver summarize/flatten sample
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


@dataclass
class Pass:
    prepare_s: float
    execute_s: float
    e2e_s: float
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


class LandingWorkload:
    def __init__(self, seed: int, work: str):
        self.work = work
        self.corpus = seed % CORPORA
        self.inputs = corpus.write_landing(os.path.join(work, "landing"), self.corpus, DOCS)
        # the warm-up corpus is the same shape from a different stream of the seed
        self.warm = corpus.write_landing(os.path.join(work, "warm"), self.corpus + 7_919, WARM_DOCS)
        self.probe_texts = corpus.sample_docs(self.corpus, PROBE_DOCS)
        with open(DIGESTS) as f:
            self.expected_digest = json.load(f).get(str(self.corpus))
        self.seen_digests: set[str] = set()
        self._n = 0

    def provenance(self) -> dict:
        return {
            "corpus": self.corpus,
            "landing": {k: getattr(self.inputs, k) for k in ("docs_in", "docs_kept", "queries", "sha256", "bytes")},
            "warm_up": {k: getattr(self.warm, k) for k in ("docs_in", "sha256")},
            "digests_seen": sorted(self.seen_digests),
        }

    def warm_up(self, spark, tracer: Tracer) -> None:
        """One pass over the warm-up corpus, which takes the session's cold cost."""
        p = self._pass(spark, tracer, self.warm, traced=False)
        if p.problems:
            raise RuntimeError(f"warm-up pass failed its checks: {p.problems}")

    def run_pass(self, spark, tracer: Tracer, traced: bool) -> Pass:
        return self._pass(spark, tracer, self.inputs, traced)

    def _pass(self, spark, tr: Tracer, landing: corpus.Landing, traced: bool) -> Pass:
        self._n += 1
        d = os.path.join(self.work, f"pass{self._n}")
        summary_dir, silver_dir, out = f"{d}/summary", f"{d}/silver", f"{d}/report.html"
        os.makedirs(d)

        t0 = time.perf_counter()
        # cli.cmd_extract
        with tr.span("queryinfo.frame"):
            df = extract_queryinfo(spark, landing.path)
        with tr.span("queryinfo.sink"):
            write_summary_jsonl(df, summary_dir)
        with tr.span("queryinfo.readback"):
            kept = read_summary_jsonl(spark, summary_dir).count()
        t1 = time.perf_counter()
        # cli.cmd_analyze, over persisted silver
        silver = build_silver(read_summary_jsonl(spark, summary_dir))
        with tr.span("pipeline.silver_write"):
            append_silver(silver, silver_dir)
        for frame in silver.values():
            frame.unpersist()
        silver = read_silver(spark, silver_dir)
        with tr.span("emitter.build"):
            report = build_report(silver, scatter_limit=SCATTER_LIMIT)
        with tr.span("emitter.write"):
            write_report(report, out)
        t2 = time.perf_counter()

        problems = self._check(landing, kept, report)
        layers = {
            "queryinfo.docs_in": landing.docs_in,
            "queryinfo.docs_kept": kept,
            "queryinfo.docs_dropped": landing.docs_in - kept,
        }
        if traced:
            layers.update(self._traced_extras(spark, tr, summary_dir, silver, silver_dir, out, report))
        shutil.rmtree(d)
        return Pass(t1 - t0, t2 - t1, t2 - t0, problems, layers)

    def _check(self, landing: corpus.Landing, kept: int, report: dict) -> list[str]:
        problems = []
        if kept != landing.docs_kept:
            problems.append(f"docs_kept {kept} != {landing.docs_kept} known by construction")
        if report["errors"]:
            problems.append(f"chart errors: {report['errors']}")
        n_queries = report["structure"]["metrics"].get("n_queries")
        if n_queries != landing.queries:
            problems.append(f"report n_queries {n_queries} != {landing.queries} known by construction")
        if landing is self.inputs:
            key = checks.digest_key(checks.report_digest(report, SCATTER_LIMIT))
            self.seen_digests.add(key)
            if self.expected_digest is None:
                problems.append(f"no report digest recorded for corpus {self.corpus} in {DIGESTS}")
            elif key != self.expected_digest:
                problems.append(f"report digest {key} != recorded {self.expected_digest}")
        return problems

    def _traced_extras(self, spark, tr: Tracer, summary_dir: str, silver, silver_dir: str, out: str,
                       report: dict) -> dict[str, float]:
        """Layer probes outside the pass's wall: silver fills, serial analyzers, in-driver samples."""
        layers: dict[str, float] = {}
        fresh = build_silver(read_summary_jsonl(spark, summary_dir))
        for t in SILVER_TABLES:
            with tr.span(f"pipeline.{t}_fill"):
                layers[f"pipeline.{t}_rows"] = fresh[t].count()
        for frame in fresh.values():
            frame.unpersist()
        for name in ANALYZERS:
            with tr.span(f"analyzers.{name}"):
                run_analyzers(silver, only=[name])[name].limit(SCATTER_LIMIT).collect()
        n = len(self.probe_texts)
        t0 = time.perf_counter()
        with tr.span("queryinfo.summarize_sample"):
            recs = [summarize_queryinfo(json.loads(t)) for t in self.probe_texts]
        t1 = time.perf_counter()
        with tr.span("flatten.plan_nodes_sample"):
            for r in recs:
                list(iter_plan_rows(r["query_id"], r["fragments"]))
        t2 = time.perf_counter()
        with tr.span("flatten.tasks_sample"):
            for r in recs:
                list(iter_task_rows(r["query_id"], r["substages"]))
        t3 = time.perf_counter()
        layers["queryinfo.summarize_ms_per_doc"] = 1e3 * (t1 - t0) / n
        layers["flatten.plan_nodes_us_per_query"] = 1e6 * (t2 - t1) / n
        layers["flatten.tasks_us_per_query"] = 1e6 * (t3 - t2) / n
        layers["emitter.bytes"] = os.path.getsize(out)
        layers["emitter.charts"] = len(report["charts"])
        layers["emitter.chart_errors"] = len(report["errors"])
        files = [os.path.join(r, f) for r, _, fs in os.walk(silver_dir) for f in fs if f.endswith(".parquet")]
        layers["pipeline.files_written"] = len(files)
        layers["pipeline.bytes_written"] = sum(os.path.getsize(f) for f in files)
        return layers

    def layer_metrics(self, spans: list, p: Pass) -> dict[str, float]:
        """Per-layer values of one traced pass, from its spans and counts."""
        m = dict(p.layers)
        m["queryinfo.frame_s"] = total(spans, "queryinfo.frame")
        m["queryinfo.sink_s"] = total(spans, "queryinfo.sink")
        m["queryinfo.readback_s"] = total(spans, "queryinfo.readback")
        for attr in ("jobs", "tasks"):
            m[f"queryinfo.{attr}"] = sum(total(spans, f"queryinfo.{s}", attr) for s in ("frame", "sink"))
            m[f"emitter.{attr}"] = total(spans, "emitter.build", attr)
            m[f"analyzers.{attr}"] = sum(total(spans, f"analyzers.{a}", attr) for a in ANALYZERS)
        m["queryinfo.docs_per_s"] = self.inputs.docs_in / p.prepare_s
        for t in SILVER_TABLES:
            m[f"pipeline.{t}_fill_s"] = total(spans, f"pipeline.{t}_fill")
        m["pipeline.silver_write_s"] = total(spans, "pipeline.silver_write")
        for a in ANALYZERS:
            m[f"analyzers.{a}_s"] = total(spans, f"analyzers.{a}")
        m["emitter.build_s"] = total(spans, "emitter.build")
        m["emitter.write_s"] = total(spans, "emitter.write")
        return m
