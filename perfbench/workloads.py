"""The benchmark workloads, and the checkpoint pass of the traced run.

Each has ``rep``, one timed repetition from the first call into the
program's public entry (build) until its action returns, and ``check``, the
correctness gate run on kept repetitions after the timed window.

Why these:

- ``filter_html``: ``pipeline.quality_filter`` over generated html pages,
  noop sink. The narrow, zero-Exchange flagship: the enrich UDF, the Arrow
  boundary and the Column chain (match, langid, textstats, scrub) do the
  work. A change to shuffles or iterative operators should leave it flat.
- ``curate_neardup``: the text-only curation pass over the same kind of
  pages, keyed on ``url``: ``chunk_dedup`` + ``decontaminate`` (broadcast)
  + ``minhash_candidates`` -> ``ngram_jaccard_verify`` ->
  ``connected_components``, joined per doc. Shuffles, JVM kernels and the
  eager jobs ``connected_components`` runs while it builds do the work; the
  parse UDF is bypassed. Spam pages are instances of four templates, so
  near-dup clusters are large and put key skew on the exchanges. Candidate
  pairs grow with the square of cluster size, which is why this input is the
  smallest.
- ``CheckpointResume`` (not a workload of its own; every traced
  ``filter_html`` run makes this pass on its input):
  ``checkpoint.CheckpointedRun`` writes ``quality_filter`` output in B
  buckets, is stopped after half of them, resumed, and
  ``pipeline.revalidate`` runs over the stored output. The filter layers
  again, but as many small per-bucket jobs with writes, repeated builds and
  re-scans, then a re-validation without parsing.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

from spans import Tracer, span

KEEP_F1_FLOOR = 0.98


@dataclass
class Ctx:
    spark: object
    inp: dict                     # the input manifest (inputs.ensure)
    work: str                     # scratch directory inside the checkout
    tracer: Tracer | None = None
    kept: dict = field(default_factory=dict)

    @property
    def corpus(self) -> str:
        return os.path.join(self.inp["path"], "corpus")

    def read(self):
        with span(self.tracer, "sources.read"):
            return self.spark.read.parquet(self.corpus)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _labels(ctx: Ctx) -> dict:
    with open(os.path.join(ctx.inp["path"], "labels.json")) as f:
        return json.load(f)


def quality_check(ctx: Ctx, df) -> dict:
    """keep F1 against the generator's labels, the per-drop_reason funnel
    and ``extracted_text == text`` on every row of a quality_filter output."""
    from pyspark.sql import functions as F

    rows = df.select(
        "url", "keep", "drop_reason",
        (F.col("extracted_text") == F.col("text")).alias("text_ok"),
    ).collect()
    labels = _labels(ctx)
    tp = fp = fn = 0
    for r in rows:
        want = labels[r["url"]][1]
        tp += r["keep"] and want
        fp += r["keep"] and not want
        fn += (not r["keep"]) and want
    funnel = Counter(r["drop_reason"] or "keep" for r in rows)
    return {
        "rows": len(rows),
        "missing": len(labels) - len({r["url"] for r in rows}),
        "keep_f1": 2 * tp / max(2 * tp + fp + fn, 1),
        "text_mismatch": sum(1 for r in rows if not r["text_ok"]),
        "funnel": dict(sorted(funnel.items())),
    }


def rows_digest(df) -> str:
    """Order-independent digest of a frame's rows."""
    from pyspark.sql import functions as F

    hashes = sorted(
        r[0] for r in df.select(
            F.sha2(F.to_json(F.struct(*sorted(df.columns))), 256)
        ).collect()
    )
    return hashlib.sha256("".join(hashes).encode()).hexdigest()


def _quality_verdict(q: dict, funnel) -> list[str]:
    errs = []
    if q["missing"] or q["rows"] == 0:
        errs.append(f"{q['missing']} docs missing from the output")
    if q["keep_f1"] < KEEP_F1_FLOOR:
        errs.append(f"keep_f1 {q['keep_f1']:.4f} < {KEEP_F1_FLOOR}")
    if q["text_mismatch"]:
        errs.append(f"extracted_text != text on {q['text_mismatch']} rows")
    if funnel is not None and q["funnel"] != funnel:
        errs.append(f"funnel {q['funnel']} != pinned {funnel}")
    return errs


class FilterHtml:
    name = "filter_html"
    size = 2000
    warmup = 0
    min_warm = 4

    def rep(self, ctx: Ctx, i: int) -> dict:
        from fingerprint_spark import pipeline

        t0 = time.perf_counter()
        df = ctx.read()
        with span(ctx.tracer, "pipeline.quality_filter", jobs=True):
            out = pipeline.quality_filter(df)
        t1 = time.perf_counter()
        with span(ctx.tracer, "action", jobs=True):
            noop(out)
        t2 = time.perf_counter()
        return {"wall": t2 - t0, "build": t1 - t0, "out": out}

    def check(self, ctx: Ctx, reps: list[dict], pinned: dict) -> tuple[list[str], dict]:
        results = [quality_check(ctx, r["out"]) for r in reps]
        errs = [e for q in results for e in _quality_verdict(q, pinned.get("funnel"))]
        if any(q["funnel"] != results[0]["funnel"] for q in results):
            errs.append("funnel differs between repetitions")
        return errs, {"keep_f1": results[-1]["keep_f1"], "funnel": results[-1]["funnel"]}


class CurateNeardup:
    name = "curate_neardup"
    size = 480
    # the first two or three warm repetitions run 10-40% slower than the
    # later ones (the driver JVM is still compiling the paths its ~40 jobs
    # per repetition take)
    warmup = 2
    min_warm = 3
    chunk_words = 12
    jaccard = 0.8

    def rep(self, ctx: Ctx, i: int) -> dict:
        from pyspark.sql import functions as F

        from fingerprint_spark.caching import release_tracked
        from fingerprint_spark.operators import components, curation, dedup

        tr = ctx.tracer
        t0 = time.perf_counter()
        text = ctx.read().select("url", "text")
        bench = ctx.spark.read.parquet(os.path.join(ctx.inp["path"], "bench"))
        with span(tr, "operators.curation.chunk_dedup", jobs=True):
            ded = curation.chunk_dedup(text, "text", "url", self.chunk_words)
        with span(tr, "operators.curation.decontaminate", jobs=True):
            cont = curation.decontaminate(
                text, bench, "text", "url", strategy="broadcast"
            )
        with span(tr, "operators.dedup.minhash_candidates", jobs=True):
            cand = dedup.minhash_candidates(text, "text", "url").select(
                "key_a", "key_b"
            )
        with span(tr, "operators.dedup.ngram_jaccard_verify", jobs=True):
            edges = dedup.ngram_jaccard_verify(cand, text, "text", "url").filter(
                F.col("jaccard") >= self.jaccard
            )
        with span(tr, "operators.components.connected_components", jobs=True):
            cc = components.connected_components(edges)
        out = (
            ded.join(cont, "url")
            .join(cc.withColumnRenamed("node", "url"), "url", "left")
            .select(
                "url", "n_chunks", "n_kept", "contaminated",
                F.coalesce("component", "url").alias("cluster"),
            )
        )
        t1 = time.perf_counter()
        with span(tr, "action", jobs=True):
            noop(out)
        t2 = time.perf_counter()
        release_tracked(ctx.spark)
        return {"wall": t2 - t0, "build": t1 - t0, "out": out,
                "cand": cand, "edges": edges}

    def check(self, ctx: Ctx, reps: list[dict], pinned: dict) -> tuple[list[str], dict]:
        from fingerprint_spark.caching import release_tracked

        digests, last = [], None
        for r in reps:
            rows = r["out"].collect()
            digests.append(hashlib.sha256(
                "".join(sorted(json.dumps(list(x), default=str) for x in rows)).encode()
            ).hexdigest())
            last = rows
            release_tracked(ctx.spark)
        errs = []
        if len(set(digests)) != 1:
            errs.append("result digest differs between repetitions")
        if pinned.get("digest", digests[-1]) != digests[-1]:
            errs.append(f"result digest {digests[-1]} != pinned {pinned['digest']}")
        if len(last) != ctx.inp["docs"]:
            errs.append(f"{len(last)} result rows for {ctx.inp['docs']} docs")
        clusters = Counter(r["cluster"] for r in last)
        chunks = sum(r["n_chunks"] for r in last)
        return errs, {
            "digest": digests[-1],
            "largest_cluster": max(clusters.values()),
            "chunks_total": chunks,
            "chunk_keep_ratio": sum(r["n_kept"] for r in last) / max(chunks, 1),
            "contaminated_docs": sum(r["contaminated"] for r in last),
        }


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path) for f in files
        if f.endswith(".parquet")
    )


class CheckpointResume:
    name = "checkpoint_resume"
    buckets = 4

    def _run(self, ctx: Ctx, out_dir: str, max_buckets=None, observe=True) -> dict:
        from fingerprint_spark import checkpoint, pipeline

        df = ctx.read()
        run = checkpoint.CheckpointedRun(out_dir, n_buckets=self.buckets)
        if ctx.tracer is not None:
            append = run._append_manifest

            def committed(rec):  # closes the bucket's commit span
                append(rec)
                ctx.kept.setdefault("bucket_end", []).append(time.perf_counter())

            run._append_manifest = committed
        return run.run(df, self._pipeline(ctx, pipeline), max_buckets, observe)

    def _pipeline(self, ctx: Ctx, pipeline):
        def fn(part):
            if ctx.tracer is not None:
                ctx.kept.setdefault("bucket_start", []).append(time.perf_counter())
            with span(ctx.tracer, "pipeline.quality_filter", jobs=True):
                return pipeline.quality_filter(part)
        return fn

    def rep(self, ctx: Ctx, i: int) -> dict:
        from fingerprint_spark import checkpoint, pipeline
        from fingerprint_spark.dsl.registry import builtin_rules

        out_dir = os.path.join(ctx.work, "checkpoint", f"rep{i}")
        shutil.rmtree(out_dir, ignore_errors=True)
        tr = ctx.tracer
        t0 = time.perf_counter()
        with span(tr, "checkpoint.first_pass", jobs=True):
            first = self._run(ctx, out_dir, max_buckets=self.buckets // 2)
        with span(tr, "checkpoint.resume", jobs=True):
            second = self._run(ctx, out_dir)
        with span(tr, "pipeline.revalidate", jobs=True):
            stored = checkpoint.CheckpointedRun(out_dir, self.buckets).read_output(
                ctx.spark
            )
            noop(pipeline.revalidate(stored, builtin_rules()))
        t1 = time.perf_counter()
        recomputed = set(first["processed_buckets"]) & set(second["processed_buckets"])
        ok = (
            second["complete"]
            and sorted(second["skipped_buckets"]) == sorted(first["processed_buckets"])
        )
        return {
            "wall": t1 - t0, "out_dir": out_dir, "complete": ok,
            "recomputed": len(recomputed),
            "bytes_written": _parquet_bytes(out_dir),
        }

    def check(self, ctx: Ctx, reps: list[dict], pinned: dict) -> tuple[list[str], dict]:
        """The resumed output must equal an uninterrupted run's: for a
        recorded seed the pinned digest is that run's, otherwise one runs
        here."""
        from fingerprint_spark import checkpoint

        def stored(path):
            return checkpoint.CheckpointedRun(path, self.buckets).read_output(ctx.spark)

        want = pinned.get("digest")
        if want is None:
            ref_dir = os.path.join(ctx.work, "checkpoint", "uninterrupted")
            shutil.rmtree(ref_dir, ignore_errors=True)
            self._run(ctx, ref_dir)
            want = rows_digest(stored(ref_dir))
        errs, results = [], []
        for r in reps:
            if not r["complete"]:
                errs.append(f"{r['out_dir']}: resume did not complete the run")
            if r["recomputed"]:
                errs.append(f"{r['out_dir']}: {r['recomputed']} buckets recomputed")
            out = stored(r["out_dir"])
            if rows_digest(out) != want:
                errs.append(f"{r['out_dir']}: resumed output != uninterrupted output")
            q = quality_check(ctx, out)
            errs.extend(_quality_verdict(q, pinned.get("funnel")))
            results.append(q)
        if any(q["funnel"] != results[0]["funnel"] for q in results):
            errs.append("funnel differs between repetitions")
        return errs, {"keep_f1": results[-1]["keep_f1"], "funnel": results[-1]["funnel"],
                      "digest": want}


WORKLOADS = {w.name: w for w in (FilterHtml(), CurateNeardup())}
