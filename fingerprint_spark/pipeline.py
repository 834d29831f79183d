"""The quality-filter pipeline — the flagship chain of BASELINE.json.

    template/boilerplate match (fingerprint capability)
      -> language ID
      -> n-gram perplexity
      -> Gopher/C4 heuristic rules
      -> regex PII/toxicity scrub
      => one keep/drop verdict + scrubbed text per url

Execution shape (the 100 TB design):

- ONE vectorized parse UDF per document (the only expensive Python in
  the default chain), then pure Column expressions — the whole chain is
  narrow transformations, so the plan is scan -> project -> write with
  ZERO shuffles. Throughput scales linearly with executors because no
  stage exchanges data. Opting into a TRAINED language model
  (langid_model) adds a second ArrowEvalPython stage — still narrow,
  still zero shuffles.
- Template rules compile at the driver and ride the Catalyst plan as
  literals (broadcast versioned lookup structures). Re-validation against
  a new template version is an incremental pass over the same parsed
  struct — only the match fold changes.
- ``repartition_by_url`` (xxhash64 + optional salt) is applied only when a
  downstream stage actually shuffles (dedup, label-join), never for the
  map-only chain itself.

Reference analog: the run-mode lifecycle of src/lib.rs:739-834 —
read -> enrich (rules) -> outcome fold -> ordered emit. Ordering is
replaced by keying on url (SURVEY §1.7).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dsl.model import FingerprintDefinition
from .dsl.registry import Registry, builtin_rules
from .functions.langid import UNKNOWN_LANG, langid_best
from .functions.perplexity import (
    DEFAULT_PPL_THRESHOLD,
    NGramModel,
    perplexity_col,
    train_char_ngram,
)
from .functions.scrub import scrub_counts, scrub_text
from .functions.textstats import gopher_quality_flags, text_stats
from .operators.match import apply_match
from .parse import enrich_col, parse_html_col

HEURISTIC_FLAGS = [
    "words_in_range", "mean_word_len_in_range", "symbol_ratio_ok",
    "ellipsis_ok", "bullet_ok", "alpha_ok", "stopwords_ok", "dup_lines_ok",
]


@lru_cache(maxsize=1)
def default_ppl_model() -> NGramModel:
    """Deterministic in-domain char-3gram model trained on the engine's
    embedded English vocabulary (no external data)."""
    from .corpus import VOCAB

    words = VOCAB["en"]
    # deterministic pseudo-sentences: rotate the vocab list
    texts = [
        " ".join(words[(7 * i + j) % len(words)] for j in range(12)) + "."
        for i in range(300)
    ]
    return train_char_ngram(texts, order=3)


def repartition_by_url(
    df: DataFrame, num_partitions: int, salt_buckets: int = 0
) -> DataFrame:
    """Explicit repartition on xxhash64(url); optional salting for skewed
    hosts (north_rule). Use before shuffle-bearing stages only."""
    if salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col("url"), F.lit("salt")), F.lit(salt_buckets))
        return df.withColumn("_salt", salt).repartition(
            num_partitions, F.xxhash64("url"), F.col("_salt")
        ).drop("_salt")
    return df.repartition(num_partitions, F.xxhash64("url"))


def _verdict(
    template: Column,
    lang_best: Column,
    ppl: Column,
    flags: Column,
    target_lang: str,
    ppl_threshold: float,
) -> tuple[Column, Column]:
    """keep boolean + first-failing-stage drop_reason (the stage-order
    analog of assertion declaration-order short-circuit)."""
    heur_fail = F.coalesce(
        *[F.when(~flags[n], F.lit(n)) for n in HEURISTIC_FLAGS],
        F.lit(None).cast("string"),
    )
    reason = (
        F.when(
            template["matched"],
            F.concat(F.lit("template:"), template["fingerprint_id"]),
        )
        .when(
            lang_best["lang"] != target_lang,
            F.concat(F.lit("langid:"), lang_best["lang"]),
        )
        .when(ppl > ppl_threshold, F.lit("perplexity"))
        .when(heur_fail.isNotNull(), F.concat(F.lit("heuristic:"), heur_fail))
    )
    return reason.isNull(), reason


DEFAULT_LANGID_THRESHOLD = 0.5  # CCNet's fastText-prob gate


def _langid_stage(
    df: DataFrame,
    text_col: str,
    langid_model: dict | None,
    langid_threshold: float = DEFAULT_LANGID_THRESHOLD,
) -> DataFrame:
    """THE language-ID stage dispatch, shared by the html chain
    (quality_filter) and the text chain (quality_filter_text): emits
    lang_detected + lang_score columns from either the marker-word
    Column scorer (default) or the trained softmax (langid_model
    supplied; lang_score = softmax probability, scored by the Arrow
    kernel langid_classify_arrow).

    langid_threshold is the trained tier's UNKNOWN-language gate (the
    marker tier's MIN_SCORE analog; CCNet gates fastText lid at prob
    0.5): a softmax always emits SOME trained class, so an
    out-of-class document (a language the model never saw) would
    otherwise be force-assigned — below-threshold predictions become
    'und' (and drop as langid:und downstream), with lang_score still
    carrying the rejected argmax probability for auditability."""
    if langid_model is None:
        df = df.withColumn("_lid", langid_best(F.col(text_col)))
        return (
            df.withColumn("lang_detected", F.col("_lid.lang"))
            .withColumn("lang_score", F.col("_lid.score"))
            .drop("_lid")
        )
    from .operators.langid_classifier import langid_classify_arrow

    df = langid_classify_arrow(
        df, langid_model, text_col=text_col, out_col="_lid"
    )
    return (
        df.withColumn(
            "lang_detected",
            F.when(
                F.col("_lid.prob") >= F.lit(float(langid_threshold)),
                F.col("_lid.lang"),
            ).otherwise(F.lit(UNKNOWN_LANG)),
        )
        .withColumn("lang_score", F.col("_lid.prob"))
        .drop("_lid")
    )


def quality_filter(
    df: DataFrame,
    rules: list[FingerprintDefinition] | None = None,
    ppl_model: NGramModel | None = None,
    target_lang: str = "en",
    ppl_threshold: float = DEFAULT_PPL_THRESHOLD,
    html_col: str = "html",
    langid_model: dict | None = None,
    langid_threshold: float = DEFAULT_LANGID_THRESHOLD,
) -> DataFrame:
    """Full chain over the input_hint table (url, warc_ts, html, text, lang).

    Returns the input columns plus: extracted_text, fingerprint (match
    struct), children, child_routing, lang_detected, lang_score, ppl,
    stats, flags, scrub (counters), scrubbed_text, keep, drop_reason.

    ``langid_model`` swaps stage 2's marker-word scorer for the
    TRAINED fastText-shaped softmax (the curate --langid-model
    semantics, now first-class in the flagship chain); lang_score then
    carries the softmax probability.
    """
    if rules is None:
        rules = builtin_rules()
    # constant-fold the format gate at the driver: only html rules can
    # match an html corpus (enricher.rs:455-468 done at compile time)
    rules = [r for r in rules if r.format == "html"]

    # stage 0: ONE Python pass per document — structural parse + perplexity
    # + simhash in a single Arrow-batched UDF (separate chained UDFs would
    # double the Python worker pool and re-serialize the parsed struct)
    df = df.withColumn(
        "_enriched", enrich_col(F.col(html_col), ppl_model or default_ppl_model())
    )
    df = (
        df.withColumn("parsed", F.col("_enriched.parsed"))
        .withColumn("ppl", F.col("_enriched.ppl"))
        .withColumn("simhash", F.col("_enriched.simhash"))
        .drop("_enriched")
    )
    df = df.withColumn("extracted_text", F.col("parsed.normalized"))

    # stage 1: template match (broadcast fold, enricher.rs:201-268 analog)
    env = {
        "url": F.col("url"),
        "ts": F.col("warc_ts"),
        "parsed": F.col("parsed"),
    }
    df = apply_match(df, rules, env, result_col="fingerprint")

    # stage 2: language ID — marker-word Column exprs by default, or
    # the trained softmax when a model is supplied (same dispatch as
    # quality_filter_text; the verdict fold below reads the shared
    # lang struct either way)
    df = _langid_stage(df, "extracted_text", langid_model, langid_threshold)

    # stage 3: perplexity — already computed in the enrich pass (stage 0)

    # stage 4: heuristics (pure Column exprs)
    df = df.withColumn("stats", text_stats(F.col("extracted_text")))
    df = df.withColumn("flags", gopher_quality_flags(F.col("stats")))

    # stage 5: scrub (regexp_replace chain + counters)
    df = df.withColumn("scrub", scrub_counts(F.col("extracted_text")))
    df = df.withColumn("scrubbed_text", scrub_text(F.col("extracted_text")))

    # verdict
    keep, reason = _verdict(
        F.col("fingerprint"),
        F.struct(F.col("lang_detected").alias("lang"), F.col("lang_score").alias("score")),
        F.col("ppl"),
        F.col("flags"),
        target_lang,
        ppl_threshold,
    )
    df = df.withColumn("keep", keep).withColumn("drop_reason", reason)

    # lifecycle: parse failures are skips with warnings, never task
    # failures (enricher.rs:145-159 E_PARSE); skipped docs drop with an
    # explicit reason and carry the warning code
    parse_err = F.col("parsed.parse_error")
    df = df.withColumn(
        "warnings",
        F.filter(
            F.array(F.when(parse_err.isNotNull(), F.lit("E_PARSE"))),
            lambda w: w.isNotNull(),
        ),
    )
    df = df.withColumn(
        "keep", F.when(parse_err.isNotNull(), F.lit(False)).otherwise(F.col("keep"))
    ).withColumn(
        "drop_reason",
        F.when(parse_err.isNotNull(), F.lit("skip:E_PARSE")).otherwise(
            F.col("drop_reason")
        ),
    )
    # tool_versions accumulation analog (enricher.rs:622-634)
    from . import __version__

    df = df.withColumn(
        "tool_versions",
        F.create_map(F.lit("fingerprint_spark"), F.lit(__version__)),
    )
    return df


def quality_filter_text(
    df: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    target_lang: str = "en",
    ppl_threshold: float = DEFAULT_PPL_THRESHOLD,
    with_ppl: bool = False,
    ppl_model: NGramModel | None = None,
    langid_model: dict | None = None,
    langid_threshold: float = DEFAULT_LANGID_THRESHOLD,
) -> DataFrame:
    """Text-only variant (no html parse): langid -> heuristics -> scrub.

    Every stage here is a pure Column expression with an exact ANSI-SQL
    analog — this is the oracle-checkable surface used by the driver's
    DuckDB comparison. ``with_ppl`` adds the (non-SQL) perplexity stage.
    ``langid_model`` swaps the marker-word scorer for a TRAINED
    fastText-shaped softmax (operators/langid_classifier, the
    train-langid CLI output) — zero-shuffle either way; lang_score then
    carries the softmax probability of the predicted class rather than
    the marker-token fraction. The trained scorer is the Arrow kernel
    langid_classify_arrow (one ArrowEvalPython stage).
    """
    text = F.col(text_col)
    df = _langid_stage(df, text_col, langid_model, langid_threshold)
    df = df.withColumn("stats", text_stats(text))
    df = df.withColumn("flags", gopher_quality_flags(F.col("stats")))
    df = df.withColumn("scrub", scrub_counts(text))
    df = df.withColumn("scrubbed_text", scrub_text(text))
    if with_ppl:
        df = df.withColumn(
            "ppl", perplexity_col(text, ppl_model or default_ppl_model())
        )
    heur_fail = F.coalesce(
        *[F.when(~F.col("flags")[n], F.lit(n)) for n in HEURISTIC_FLAGS],
        F.lit(None).cast("string"),
    )
    # ONE reason chain with the ppl link conditionally inserted —
    # building two whole chains duplicated the langid/heuristic
    # clauses (review finding r5c)
    clauses = [
        (
            F.col("lang_detected") != target_lang,
            F.concat(F.lit("langid:"), F.col("lang_detected")),
        ),
    ]
    if with_ppl:
        clauses.append((F.col("ppl") > ppl_threshold, F.lit("perplexity")))
    clauses.append(
        (heur_fail.isNotNull(), F.concat(F.lit("heuristic:"), heur_fail))
    )
    reason = F.when(*clauses[0])
    for cond, val in clauses[1:]:
        reason = reason.when(cond, val)
    return df.withColumn("keep", reason.isNull()).withColumn("drop_reason", reason)


def revalidate(
    parsed_df: DataFrame,
    rules: list[FingerprintDefinition],
    result_col: str = "fingerprint",
) -> DataFrame:
    """Incremental template re-validation (north_star requirement).

    Input: a frame that already carries the ``parsed`` struct (e.g. the
    stored output of a previous quality_filter run). Applying a NEW rule
    version is a pure expression pass — no html parse, no Python stage,
    no shuffle. The physical plan must contain no ArrowEvalPython node
    (asserted in tests): at 100 TB this is the difference between
    re-reading stored structs and re-parsing the crawl.
    """
    rules = [r for r in rules if r.format == "html"]
    env = {
        "url": F.col("url"),
        "ts": F.col("warc_ts") if "warc_ts" in parsed_df.columns else None,
        "parsed": F.col("parsed"),
    }
    env = {k: v for k, v in env.items() if v is not None}
    return apply_match(parsed_df, rules, env, result_col=result_col)
