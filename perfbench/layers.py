"""The traced run: per-layer metrics, read from spans around the program's
public calls, from Spark's status stores and from kernel micro-runs.

Layer -> end-to-end map (which end-to-end metric, on which workload, a
change in the layer should move) is in NOTES.md. Every per-layer metric is
reported on every workload; a layer the workload does not exercise reads 0.

SQL metrics left out because they do not reconcile with wall time:
ArrowEvalPython's "time to initialize Python workers" and "time to start
Python workers" (task sums that include waiting and overlap; warm runs read
several seconds of them per second of wall), and WholeStageCodegen
"duration" (it contains the Python evaluation time of the stage's UDF).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from sparkstats import Py4jCounter, SparkReader, exec_counters, metric_value
from workloads import CheckpointResume, Ctx, noop

TRACED_REPS = 2
CHECKPOINT_REPS = 2
LADDER_REPS = 2
KERNEL_DOCS = 200
KERNEL_PASSES = 3

PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("deploy.ensure_pyfiles_s", "s"),
    ("session.worker_warm_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.input_bytes", "bytes"),
    ("sources.scan_tasks", "count"),
    ("dsl.builtin_rules_s", "s"),
    ("dsl.compile_rule_s", "s"),
    ("dsl.py4j_calls", "count"),
    ("pipeline.quality_filter.build_s", "s"),
    ("pipeline.quality_filter.build_jobs", "count"),
    ("pipeline.quality_filter.py4j_calls", "count"),
    ("pipeline.quality_filter.exec_s", "s"),
    ("pipeline.revalidate_s", "s"),
    ("parse.enrich_exec_s", "s"),
    ("parse.arrow_bytes_to_py", "bytes"),
    ("parse.arrow_bytes_from_py", "bytes"),
    ("parse.udf_rows", "count"),
    ("parse.parse_html_us_per_doc", "us"),
    ("parse.boundary_share", "ratio"),
    ("functions.perplexity.score_us_per_doc", "us"),
    ("functions.hashing.simhash_us_per_doc", "us"),
    ("operators.match.exec_s", "s"),
    ("functions.langid.exec_s", "s"),
    ("functions.textstats.exec_s", "s"),
    ("functions.scrub.exec_s", "s"),
    ("pipeline.verdict.exec_s", "s"),
    ("operators.curation.chunk_dedup.build_s", "s"),
    ("operators.curation.chunks_total", "count"),
    ("operators.curation.chunk_keep_ratio", "ratio"),
    ("operators.curation.decontaminate.build_s", "s"),
    ("operators.curation.contaminated_docs", "count"),
    ("operators.dedup.minhash_candidates.build_s", "s"),
    ("operators.dedup.minhash_candidates.build_jobs", "count"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.verified_edges", "count"),
    ("operators.dedup.verify_yield", "ratio"),
    ("operators.components.connected_components.build_s", "s"),
    ("operators.components.connected_components.build_jobs", "count"),
    ("operators.components.connected_components.iterations", "count"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.tasks_failed", "count"),
    ("exec.task_s_sum", "s"),
    ("exec.jvm_cpu_s_sum", "s"),
    ("exec.task_skew", "ratio"),
    ("exchange.shuffle_write_bytes", "bytes"),
    ("exchange.shuffle_read_bytes", "bytes"),
    ("exchange.fetch_wait_s", "s"),
    ("exec.spill_bytes", "bytes"),
    ("checkpoint.bucket_commit_s", "s"),
    ("checkpoint.first_pass_s", "s"),
    ("checkpoint.resume_s", "s"),
    ("checkpoint.buckets_recomputed", "count"),
    ("checkpoint.bytes_written", "bytes"),
    ("metrics.observe_overhead_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("pyworker.peak_rss_mb", "MB"),
    ("driver.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
    ("trace.untraced_exec_s", "s"),
]


def _below(tracer, root: dict) -> list[dict]:
    """Spans under ``root`` (spans are appended in start order)."""
    ids, out = {root["id"]}, []
    for s in tracer.spans[root["id"] + 1:]:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _rep_layers(tracer, reader: SparkReader, root: dict, rep: dict, ctx: Ctx) -> dict:
    spans = _below(tracer, root)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def jobs_of(ss):
        return sorted({j for s in ss if "job_group" in s for j in reader.jobs(s["job_group"])})

    all_jobs = jobs_of(spans)
    stages = reader.stages(all_jobs)
    out = exec_counters(stages, len(all_jobs))
    # a stage's inputBytes misses bytes read on the Arrow writer thread, so
    # scan bytes come from the SQL scan nodes; records are counted per task
    nodes = reader.sql_nodes(all_jobs)
    out["sources.input_bytes"] = sum(
        metric_value(n, "size of files read") for n in nodes
        if n["name"].startswith("Scan parquet"))
    out["sources.scan_tasks"] = sum(
        s["numTasks"] for s in stages if s.get("inputRecords"))

    enrich = [n for n in nodes
              if n["name"] == "ArrowEvalPython" and "html" in n.get("desc", "")]
    for key, metric in (("parse.arrow_bytes_to_py", "data sent to Python workers"),
                        ("parse.arrow_bytes_from_py", "data returned from Python workers"),
                        ("parse.udf_rows", "number of output rows")):
        out[key] = sum(metric_value(n, metric) for n in enrich)

    compile_spans = named("dsl.compile_rule")
    qf = named("pipeline.quality_filter")
    out.update({
        "dsl.builtin_rules_s": _dur(named("dsl.builtin_rules")),
        "dsl.compile_rule_s": _dur(compile_spans),
        "dsl.py4j_calls": sum(s["py4j_calls"] for s in compile_spans),
        "pipeline.quality_filter.build_s": _dur(qf),
        "pipeline.quality_filter.build_jobs": len(jobs_of(qf)),
        "pipeline.quality_filter.py4j_calls": sum(s["py4j_calls"] for s in qf),
        "pipeline.revalidate_s": _dur(named("pipeline.revalidate")),
        "operators.curation.chunk_dedup.build_s": _dur(named("operators.curation.chunk_dedup")),
        "operators.curation.decontaminate.build_s": _dur(named("operators.curation.decontaminate")),
    })
    mh = named("operators.dedup.minhash_candidates")
    cc = named("operators.components.connected_components")
    out.update({
        "operators.dedup.minhash_candidates.build_s": _dur(mh),
        "operators.dedup.minhash_candidates.build_jobs": len(jobs_of(mh)),
        "operators.components.connected_components.build_s": _dur(cc),
        "operators.components.connected_components.build_jobs": len(jobs_of(cc)),
        # one large-star plus one small-star round per iteration
        "operators.components.connected_components.iterations":
            len(named("operators.components.star_round")) // 2,
    })
    if "recomputed" in rep:
        starts = [t for t in ctx.kept.get("bucket_start", []) if t >= root["start"]]
        ends = [t for t in ctx.kept.get("bucket_end", []) if t >= root["start"]]
        out.update({
            "checkpoint.bucket_commit_s": statistics.median(
                e - s for s, e in zip(starts, ends)),
            "checkpoint.first_pass_s": _dur(named("checkpoint.first_pass")),
            "checkpoint.resume_s": _dur(named("checkpoint.resume")),
            "checkpoint.buckets_recomputed": rep["recomputed"],
            "checkpoint.bytes_written": rep["bytes_written"],
        })
    return out


def _ladder(ctx: Ctx, workload) -> dict:
    """Cumulative prefixes of quality_filter, each executed with a noop sink;
    a rung's increment over the previous rung is that layer's self time. The
    prefixes repeat quality_filter's own steps through the layers' public
    functions; the last rung is quality_filter itself. Also returns the
    execution time of untraced repetitions interleaved with the rungs, which
    the last rung should match."""
    from pyspark.sql import functions as F

    from fingerprint_spark import pipeline
    from fingerprint_spark.dsl.registry import builtin_rules
    from fingerprint_spark.functions.langid import langid_best
    from fingerprint_spark.functions.scrub import scrub_counts, scrub_text
    from fingerprint_spark.functions.textstats import gopher_quality_flags, text_stats
    from fingerprint_spark.operators.match import apply_match
    from fingerprint_spark.parse import enrich_col

    def enrich(df):
        df = df.withColumn(
            "_enriched", enrich_col(F.col("html"), pipeline.default_ppl_model())
        )
        return (
            df.withColumn("parsed", F.col("_enriched.parsed"))
            .withColumn("ppl", F.col("_enriched.ppl"))
            .withColumn("simhash", F.col("_enriched.simhash"))
            .drop("_enriched")
            .withColumn("extracted_text", F.col("parsed.normalized"))
        )

    def match(df):
        rules = [r for r in builtin_rules() if r.format == "html"]
        env = {"url": F.col("url"), "ts": F.col("warc_ts"), "parsed": F.col("parsed")}
        return apply_match(df, rules, env, result_col="fingerprint")

    def langid(df):
        return (
            df.withColumn("_lid", langid_best(F.col("extracted_text")))
            .withColumn("lang_detected", F.col("_lid.lang"))
            .withColumn("lang_score", F.col("_lid.score"))
            .drop("_lid")
        )

    def stats(df):
        df = df.withColumn("stats", text_stats(F.col("extracted_text")))
        return df.withColumn("flags", gopher_quality_flags(F.col("stats")))

    def scrub(df):
        df = df.withColumn("scrub", scrub_counts(F.col("extracted_text")))
        return df.withColumn("scrubbed_text", scrub_text(F.col("extracted_text")))

    rungs = [
        ("sources.scan_s", lambda df: df),
        ("parse.enrich_exec_s", enrich),
        ("operators.match.exec_s", match),
        ("functions.langid.exec_s", langid),
        ("functions.textstats.exec_s", stats),
        ("functions.scrub.exec_s", scrub),
    ]
    ladder = [[step for _name, step in rungs[:k + 1]] for k in range(len(rungs))]
    ladder.append([pipeline.quality_filter])
    samples = [[] for _ in ladder]
    plain = []
    # round-robin, with one untraced repetition per round, so every rung and
    # the reference execution see the same JIT state and host load
    for _ in range(LADDER_REPS):
        for k, steps in enumerate(ladder):
            samples[k].append(_exec_once(ctx, steps))
        rep = workload.rep(ctx, 0)
        plain.append(rep["wall"] - rep["build"])
    times = [statistics.median(x) for x in samples]
    out = {"sources.scan_s": times[0],
           "pipeline.quality_filter.exec_s": times[-1],
           "pipeline.verdict.exec_s": times[-1] - times[-2],
           "trace.untraced_exec_s": statistics.median(plain)}
    for k, (name, _step) in enumerate(rungs[1:], start=1):
        out[name] = times[k] - times[k - 1]
    return out


def _exec_once(ctx: Ctx, steps) -> float:
    df = ctx.spark.read.parquet(ctx.corpus)
    for step in steps:
        df = step(df)
    t = time.perf_counter()
    noop(df)
    return time.perf_counter() - t


def _kernels(ctx: Ctx) -> dict:
    """Single-threaded driver micro-runs of the enrich UDF's three kernels
    on a fixed batch of the seed's pages, in microseconds per doc."""
    import pyarrow.parquet as pq

    from fingerprint_spark.functions.hashing import simhash64_batch_py
    from fingerprint_spark.functions.perplexity import score_text_fast_fn
    from fingerprint_spark.parse.html_parser import parse_html
    from fingerprint_spark.pipeline import default_ppl_model

    html = pq.read_table(ctx.corpus, columns=["html"]).column("html").to_pylist()
    pages = [h.decode("utf-8", "replace") for h in html[:KERNEL_DOCS]]
    texts = [parse_html(p)["normalized"] or "" for p in pages]
    score = score_text_fast_fn(default_ppl_model())

    def per_doc(fn) -> float:
        samples = []
        for _ in range(KERNEL_PASSES):
            t = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t)
        return statistics.median(samples) / len(pages) * 1e6

    return {
        "parse.parse_html_us_per_doc": per_doc(lambda: [parse_html(p) for p in pages]),
        "functions.perplexity.score_us_per_doc": per_doc(lambda: [score(t) for t in texts]),
        "functions.hashing.simhash_us_per_doc": per_doc(lambda: simhash64_batch_py(texts)),
    }


def _observe_overhead(ctx: Ctx, workload) -> float:
    """One bucket committed with ``observe`` minus the same bucket without,
    alternating, median of the differences."""
    diffs = []
    for i in range(CHECKPOINT_REPS):
        t = {}
        for observe in (True, False):
            out = os.path.join(ctx.work, "observe", f"{i}-{observe}")
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            workload._run(ctx, out, max_buckets=1, observe=observe)
            t[observe] = time.perf_counter() - t0
        diffs.append(t[True] - t[False])
    return statistics.median(diffs)


def _traced_reps(workload, ctx: Ctx, tracer, reader: SparkReader, n: int,
                 paired: bool = True):
    """``n`` traced repetitions, each ``paired`` with an untraced one run just
    before it, so the pair sees the same JIT state and host load. Returns the
    median of each traced rep's layer values, the traced reps, and the
    untraced ones."""
    per_rep, reps, plain = [], [], []
    for i in range(n):
        if paired:
            plain.append(workload.rep(ctx, 2000 + len(tracer.spans)))
        ctx.tracer = tracer
        try:
            with tracer.span("rep", workload=workload.name, index=i) as root:
                rep = workload.rep(ctx, 1000 + len(tracer.spans))
        finally:
            ctx.tracer = None
        reps.append(rep)
        per_rep.append(_rep_layers(tracer, reader, root, rep, ctx))
    medians = {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}
    return medians, reps, plain


CHECKPOINT_KEYS = ("checkpoint.", "pipeline.revalidate_s")


def _checkpoint_pass(ctx: Ctx, tracer, reader, values: dict, funnel) -> list[str]:
    """The checkpoint_resume repetition and its gate on this run's input: the
    checkpoint and metrics layers' numbers for the filter_html traced run."""
    ck = CheckpointResume()
    with tracer.span("checkpoint_resume"):
        med, reps, _ = _traced_reps(ck, ctx, tracer, reader, CHECKPOINT_REPS,
                                    paired=False)
        values.update({k: v for k, v in med.items() if k.startswith(CHECKPOINT_KEYS)})
        errs, _quality = ck.check(ctx, reps, {"funnel": funnel} if funnel else {})
        values["metrics.observe_overhead_s"] = _observe_overhead(ctx, ck)
    return errs


def traced(workload, ctx: Ctx, tracer, res: dict, timed: dict, pinned: dict):
    """Traced repetitions plus the workload's layer measurements. Returns
    ({metric: (value, unit)} for every PER_LAYER metric, gate errors)."""
    import fingerprint_spark.operators.components as components
    import fingerprint_spark.operators.match as match
    import fingerprint_spark.pipeline as pipeline

    sc = ctx.spark.sparkContext
    tracer.attach(sc, Py4jCounter(sc))
    reader = SparkReader(ctx.spark)
    patched = [(match, "compile_rule"), (pipeline, "builtin_rules"),
               (components, "_star_round")]
    saved = [getattr(m, a) for m, a in patched]
    tracer.wrap(match, "compile_rule", "dsl.compile_rule")
    tracer.wrap(pipeline, "builtin_rules", "dsl.builtin_rules")
    tracer.wrap(components, "_star_round", "operators.components.star_round")

    values = {name: 0.0 for name, _ in PER_LAYER}
    values.update({k: v for k, v in timed.items() if k in values})
    errs: list[str] = []
    try:
        med, reps, plain = _traced_reps(workload, ctx, tracer, reader, TRACED_REPS)
        values.update(med)
        values["trace.overhead_s"] = (
            statistics.median(r["wall"] for r in reps)
            - statistics.median(r["wall"] for r in plain))
        values["trace.untraced_exec_s"] = statistics.median(
            r["wall"] - r["build"] for r in plain)
        with tracer.span("kernels"):
            values.update(_kernels(ctx))
        if workload.name == "filter_html":
            with tracer.span("ladder"):
                values.update(_ladder(ctx, workload))
            body_s = ctx.inp["docs"] * sum(values[k] for k in (
                "parse.parse_html_us_per_doc", "functions.perplexity.score_us_per_doc",
                "functions.hashing.simhash_us_per_doc")) / 1e6 / sc.defaultParallelism
            values["parse.boundary_share"] = 1 - body_s / values["parse.enrich_exec_s"]
            errs = _checkpoint_pass(ctx, tracer, reader, values, pinned.get("funnel"))
        elif workload.name == "curate_neardup":
            q = res["quality"]
            values["operators.curation.chunks_total"] = q["chunks_total"]
            values["operators.curation.chunk_keep_ratio"] = q["chunk_keep_ratio"]
            values["operators.curation.contaminated_docs"] = q["contaminated_docs"]
            with tracer.span("dedup.counts"):
                pairs = reps[-1]["cand"].count()
                edges = reps[-1]["edges"].count()
            values["operators.dedup.candidate_pairs"] = pairs
            values["operators.dedup.verified_edges"] = edges
            values["operators.dedup.verify_yield"] = edges / max(pairs, 1)
    finally:
        for (m, a), fn in zip(patched, saved):
            setattr(m, a, fn)
    return {name: (values[name], unit) for name, unit in PER_LAYER}, errs
