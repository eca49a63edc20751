"""Degenerate-content gate: per-document token entropy + duplicated
k-gram fraction as first-class engine checks — the payload-quality twin
of the token-array lints (checks/tokens.py). The reference grades each
tool's *content* fields beyond mere presence
(/root/reference/bin/analyze_joss.py:199-266); for a pre-tokenized corpus
the content questions are "is this text degenerate?" (entropy collapse:
padding floods, single-token spam) and "does it tile?" (boilerplate
loops, decoding stutter — healthy entropy, duplicated k-grams).

Both statistics are within-row, so they cannot ride the fused JVM row
scan (they need the Arrow stage). Every config runs ONE
`textqc._token_pass` whose kernel list holds one kernel per enabled
facet — the same entropy / k-gram kernels as the oracle-verified
standalone extras (seq_token_entropy / seq_token_kgram_rep), so all of
them emit identical statistics — and the violation rows come from one
JVM-side projection over the rounded values. Two measured conditions
keep this design the fast one:

- Fusing both facets into one pass wins only while the k-gram kernel
  hashes the payload in place whenever every row of a batch has >= k
  tokens. With a per-batch mask copy (flat[np.repeat(ok, sizes)]) the
  fused pass measured 11.6 s against 7.8 s for two unioned standalone
  passes; without the copy, 7.3 s against 9.1 s (interleaved, sf0.1
  noop sink; the union overlaps both Arrow stages in one job, so it is
  NOT the sum of the standalone walls). A fused mapInPandas pass lost
  (5.3 s vs 4.0 s at sf0.01) to a doubled per-worker object working
  set the Arrow-buffer kernels no longer have.
- A disabled facet costs nothing: its kernel is not listed, its
  columns never cross Arrow, and with the entropy facet off the pass
  drops rows shorter than k before the scan leaves the JVM. Each facet
  is opt-in via config — `min_entropy` / `max_dup_kgram_frac` of None
  disables it even when "degenerate" is listed in checks; with neither
  set no Arrow job runs at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tokenqc.checks import base as cb

CHECK = "degenerate"


def _flag(cond, facet: str, stat: str, expected: str):
    """(observed, expected) struct for rows where `cond` holds, else
    NULL (array_compact drops it); NULL stats never flag."""
    return F.when(
        F.coalesce(cond, F.lit(False)),
        F.struct(
            F.concat(F.lit(f"{facet}: "), F.col(stat).cast("string")).alias(
                "observed"
            ),
            F.lit(expected).alias("expected"),
        ),
    )


def violations(df: DataFrame, cfg: cb.CheckConfig) -> DataFrame:
    """Violation rows for the enabled degeneracy facets, in the
    engine's standard (partition_id, doc_id, check_name, observed,
    expected) shape. `df` must carry partition_id (the runner attaches
    it). The enabled facets' kernels run in ONE zero-shuffle Arrow pass
    (the corpus is read once); a disabled facet costs nothing
    (measurements in the module docstring).
    """
    from tokenqc.textops import textqc

    k = cfg.degen_kgram_k
    kernels, flags = [], []
    if cfg.min_entropy is not None:
        kernels.append(textqc._entropy_kernel())
        flags.append(_flag(
            F.col("entropy") < float(cfg.min_entropy), "low_entropy", "entropy",
            f"token unigram entropy >= {cfg.min_entropy}",
        ))
    if cfg.max_dup_kgram_frac is not None:
        kernels.append(textqc._kgram_kernel(k))
        flags.append(_flag(
            F.col("dup_kgram_frac") > float(cfg.max_dup_kgram_frac),
            "repetitive", "dup_kgram_frac",
            f"duplicated {k}-gram fraction <= {cfg.max_dup_kgram_frac}",
        ))
    if not kernels:
        return df.sparkSession.createDataFrame([], cb.VIOLATION_SCHEMA)
    stats = textqc._token_pass(
        df, "doc_id", "tokens", kernels, carry_cols=("partition_id",),
        min_len=1 if cfg.min_entropy is not None else k,
    )
    return stats.select(
        "partition_id",
        "doc_id",
        F.explode(F.array_compact(F.array(*flags))).alias("_v"),
    ).select(
        "partition_id",
        "doc_id",
        F.lit(CHECK).alias("check_name"),
        F.col("_v.observed").alias("observed"),
        F.col("_v.expected").alias("expected"),
    )
