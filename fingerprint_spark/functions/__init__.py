"""Column-expression and vectorized-UDF function library.

Everything here is either a pure Catalyst Column expression (JVM-side,
whole-stage-codegen'd — the default) or an Arrow-batched pandas UDF (the
explicitly-marked slow path: simhash, minhash, perplexity). Per
BASELINE.json input_hint, no per-row Python UDF exists anywhere in this
package.

Each Python-side text signal has ONE production kernel and one
per-document reference kept as its test oracle:

- word-shingle hashes (simhash, minhash, sketches, jaccard shingle sets):
  hashing._batch_shingle_hashes; reference hashing._shingle_hashes64.
- char-trigram perplexity (enrich UDF, perplexity_col, q_perplexity's
  ppl_udf): perplexity.score_text_fast_fn; reference
  perplexity.score_text, also its non-ASCII fallback.
"""

from .hashing import content_hash_col, minhash_signature_col, simhash64_col
from .langid import LANG_MARKERS, langid_best, langid_scores
from .perplexity import NGramModel, perplexity_col, train_char_ngram
from .scrub import PII_PATTERNS, scrub_counts, scrub_text
from .textstats import (
    GOPHER_STOPWORDS,
    gopher_quality_flags,
    quality_flags_all_pass,
    text_stats,
)

__all__ = [
    "text_stats",
    "gopher_quality_flags",
    "quality_flags_all_pass",
    "GOPHER_STOPWORDS",
    "langid_scores",
    "langid_best",
    "LANG_MARKERS",
    "train_char_ngram",
    "NGramModel",
    "perplexity_col",
    "scrub_text",
    "scrub_counts",
    "PII_PATTERNS",
    "simhash64_col",
    "minhash_signature_col",
    "content_hash_col",
]
