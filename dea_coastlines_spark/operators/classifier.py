"""Hashed-feature linear quality classifier (fastText-style scoring).

Web-scale corpus pipelines gate documents with a cheap linear
classifier over hashed bag-of-words features (CCNet / GPT-3 quality
filtering): tokens are hashed into D buckets, each bucket carries a
learned weight, and a document's score is a sigmoid of the mean
bucket weight. The expensive part at 100 TB is not the model — it is
keeping the scoring map-side and JVM-side. This operator does:

* tokenize → hash → weight → sigmoid entirely in whole-stage-codegen
  expressions (zero Python, zero shuffle, one projection);
* the hash is a polynomial rolling hash over the token's ASCII codes
  (tokens are [a-z0-9]+ runs, so every code point is single-byte):
  ``h = fold(h*31 + code) mod 1_000_003`` — chosen over FNV because
  the fold stays far below 2^63, making it ANSI-overflow-safe in
  Spark AND bit-identical in any engine with 64-bit integers (the
  DuckDB oracle reproduces it with list_reduce);
* weights come either from a real trained model (pass ``weights`` as
  a D-long list, broadcast as an array literal column) or from the
  deterministic placeholder ``w(b) = ((b * 2654435761) mod 4096) /
  2048 - 1`` — a splitmix-style mix that exercises the exact scoring
  path with no model artifact in the repo.

Scale: map-only (the plan is Scan → Project → whatever the caller
adds). A 1000-executor scoring pass over 10^11 docs is pure scan
bandwidth; no state, no skew surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HASH_MOD = 1_000_003
_MIX = 2654435761  # Knuth multiplicative constant


def _token_hash(tok: F.Column) -> F.Column:
    """Polynomial rolling hash of an [a-z0-9]+ token: fold of
    (h*31 + ascii(char)) mod HASH_MOD. h < HASH_MOD so h*31 + 127
    < 2^25 — no overflow under ANSI arithmetic."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(tok)),
        lambda i: F.ascii(F.substring(tok, i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda h, c: F.pmod(h * 31 + c, F.lit(HASH_MOD)),
    )


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    scale: float = 4.0,
    threshold: float = 0.5,
    weights: list[float] | None = None,
) -> DataFrame:
    """Score every document with the hashed linear model; returns the
    input columns + ``n_feats`` (token count), ``score`` (sigmoid, 6
    dp) and ``keep`` (score >= threshold). Documents with no [a-z0-9]
    tokens get score NULL / keep false (nothing to judge — let the
    caller's length filter handle them).

    ``weights``: optional trained bucket weights (len == dim); when
    omitted the deterministic placeholder mix is used so tests and
    oracles need no model file.
    """
    if weights is not None and len(weights) != dim:
        raise ValueError(f"weights must have length {dim}")

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != ""
    )
    # materialize tokens then hashes: HOFs evaluate interpreted, and an
    # inline token expression inside the hash lambda would re-tokenize
    # per element
    out = df.withColumn("_qc_toks", toks)
    out = out.withColumn(
        "_qc_hs", F.transform(F.col("_qc_toks"), _token_hash)
    )
    bucket = lambda h: F.pmod(h, F.lit(dim))
    if weights is None:
        # placeholder weight: ((b * MIX) mod 4096) / 2048 - 1 in [-1, 1)
        wfn = lambda h: (
            F.pmod(bucket(h) * _MIX, F.lit(4096)) / F.lit(2048.0) - F.lit(1.0)
        )
    else:
        warr = F.array(*[F.lit(float(w)) for w in weights])
        wfn = lambda h: F.element_at(warr, (bucket(h) + 1).cast("int"))
    out = out.withColumn("_qc_ws", F.transform(F.col("_qc_hs"), wfn))

    n = F.size(F.col("_qc_toks"))
    z = (
        F.lit(float(scale))
        * F.aggregate(
            F.col("_qc_ws"), F.lit(0.0), lambda a, w: a + w
        )
        / n
    )
    # hard sigmoid (clamped linear, as in efficient/quantized inference)
    # instead of the logistic: every operand here is exact dyadic
    # (weights are multiples of 1/2048) or IEEE-defined (one divide),
    # so the score is BIT-IDENTICAL across engines — exp() differs by
    # ~1 ulp between the JVM and libm, which would make a 6-dp rounded
    # logistic flip on knife-edge values. A trained model's logistic
    # threshold t translates exactly: z >= logit(t).
    score = F.round(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), z * 0.25 + 0.5)), 6
    )
    return (
        out.withColumn("n_feats", n)
        .withColumn("score", F.when(n > 0, score))
        .withColumn(
            "keep",
            F.coalesce(F.col("score") >= float(threshold), F.lit(False)),
        )
        .drop("_qc_toks", "_qc_hs", "_qc_ws")
    )
