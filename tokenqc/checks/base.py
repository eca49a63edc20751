"""Shared check plumbing: config, facet descriptors, violation assembly.

A *facet* is one named row-level predicate belonging to a check (e.g.
check ``completeness`` has facets ``null_doc_id``, ``null_tokens``, ...).
The reference accumulates per-check PASS/FAIL columns into one status row
(/root/reference/modules/ProcessRepo.nf:85); the engine accumulates
boolean facet columns into one DataFrame pass and explodes failures into
long-format violation rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DOC_ID_PATTERN = r"^doc-\d{8}$"

# the long-format violation row every check family emits
VIOLATION_SCHEMA = (
    "partition_id int, doc_id string, check_name string, "
    "observed string, expected string"
)


@dataclass
class CheckConfig:
    """Engine-wide check configuration (validated up front, like the
    reference's param guards at /root/reference/main.nf:49-59 — but bad
    *data* never throws; it becomes violation rows)."""

    n_partitions: int = 64
    doc_id_pattern: str = DOC_ID_PATTERN
    bucket_width: int = 64
    # per-check max violation-rate for a partition to PASS
    thresholds: dict[str, float] = field(default_factory=dict)
    default_threshold: float = 0.0
    # drift decision: p-value floor (two-sided) per test
    drift_alpha: float = 0.001
    drift_out_frac_max: float = 0.01
    min_drift_rows: int = 200
    # token-array lints (checks/tokens.py) — tokenizer-specific, so each
    # facet is opt-in: None disables it even when "tokens" is listed
    vocab_size: int | None = None
    bos_id: int | None = None
    eos_id: int | None = None
    max_token_run: int | None = None
    # token-unigram drift (drift.token_js_divergence) — opt-in like the
    # lints: list "token_drift" in checks and provide a baseline table
    token_drift_buckets: int = 256
    token_js_max: float = 0.1
    # degenerate-content gate (checks/degeneracy.py) — corpus-specific
    # thresholds, so each facet is opt-in: None disables it even when
    # "degenerate" is listed
    min_entropy: float | None = None
    max_dup_kgram_frac: float | None = None
    degen_kgram_k: int = 8
    checks: tuple[str, ...] = (
        "completeness",
        "structural",
        "format",
        "uniqueness",
        "referential",
        "invariant",
        "drift",
    )

    def __post_init__(self) -> None:
        if self.n_partitions <= 0:
            raise ValueError(f"n_partitions must be positive, got {self.n_partitions}")
        if not 0.0 <= self.default_threshold <= 1.0:
            raise ValueError("default_threshold must be in [0, 1]")
        for k, v in self.thresholds.items():
            if not 0.0 <= v <= 1.0:
                raise ValueError(f"threshold for {k!r} must be in [0, 1], got {v}")
        known = {
            "completeness",
            "structural",
            "format",
            "uniqueness",
            "referential",
            "invariant",
            "drift",
            "tokens",
            "token_drift",
            "degenerate",
        }
        if self.vocab_size is not None and self.vocab_size <= 0:
            raise ValueError(f"vocab_size must be positive, got {self.vocab_size}")
        if self.max_token_run is not None and self.max_token_run < 2:
            raise ValueError(
                f"max_token_run must be >= 2 (a run needs 2 elements), got {self.max_token_run}"
            )
        if self.token_drift_buckets <= 1:
            raise ValueError(
                f"token_drift_buckets must be > 1, got {self.token_drift_buckets}"
            )
        if self.token_js_max < 0.0:
            raise ValueError(f"token_js_max must be >= 0, got {self.token_js_max}")
        if self.degen_kgram_k < 1:
            raise ValueError(f"degen_kgram_k must be >= 1, got {self.degen_kgram_k}")
        if self.min_entropy is not None and self.min_entropy < 0.0:
            raise ValueError(f"min_entropy must be >= 0, got {self.min_entropy}")
        if self.max_dup_kgram_frac is not None and not (
            0.0 <= self.max_dup_kgram_frac <= 1.0
        ):
            raise ValueError(
                f"max_dup_kgram_frac must be in [0, 1], got {self.max_dup_kgram_frac}"
            )
        bad = set(self.checks) - known
        if bad:
            raise ValueError(f"unknown check(s): {sorted(bad)}")

    def threshold(self, check: str) -> float:
        return self.thresholds.get(check, self.default_threshold)


@dataclass(frozen=True)
class Facet:
    """One row-level predicate: True ⇒ this row violates the check."""

    check: str
    facet: str
    cond: Column
    observed: Column
    expected: str


def partition_id_col(cfg: CheckConfig, doc_id: Column | None = None) -> Column:
    """Deterministic partition assignment: pmod(xxhash64(doc_id), P).

    Hash-on-key (not spark_partition_id) so the verdict partition of a
    row is stable across cluster sizes, shuffles and resumes — the unit
    of lineage in qc_state, mirroring Nextflow's per-task workdir hash
    (/root/reference/nextflow.config:14).
    """
    key = F.coalesce(doc_id if doc_id is not None else F.col("doc_id"), F.lit(""))
    return F.pmod(F.xxhash64(key), F.lit(cfg.n_partitions)).cast("int")


def project_facets(df: DataFrame, facets: list[Facet], extra: list[Column] = ()) -> DataFrame:
    """The single narrow scan: evaluate every facet's predicate and
    observed-value once, emitting only (partition_id, doc_id, flags,
    observed-strings [, extra]). Wide payload columns (tokens) are read
    exactly once here and never carried further — anything downstream
    (joins, explodes, aggregations) moves a few bytes per row."""
    cols = [F.col("partition_id"), F.col("doc_id")]
    for i, f in enumerate(facets):
        cols.append(f.cond.alias(f"__c{i}"))
        cols.append(F.when(f.cond, f.observed.cast("string")).alias(f"__o{i}"))
    cols.extend(extra)
    return df.select(*cols)


def explode_flags(flagged: DataFrame, facets: list[Facet]) -> DataFrame:
    """Flagged narrow rows → long-format violation rows.

    Pre-filter on the OR of all flags (most rows short-circuit inside
    whole-stage codegen), then explode a compacted struct array.
    Output: (partition_id, doc_id, check_name, observed, expected).
    """
    any_bad = F.col("__c0")
    for i in range(1, len(facets)):
        any_bad = any_bad | F.col(f"__c{i}")
    structs = [
        F.when(
            F.col(f"__c{i}"),
            F.struct(
                F.lit(f.check).alias("check_name"),
                F.lit(f.facet).alias("facet"),
                F.col(f"__o{i}").alias("observed"),
                F.lit(f.expected).alias("expected"),
            ),
        )
        for i, f in enumerate(facets)
    ]
    return (
        flagged.where(any_bad)
        .select(
            F.col("partition_id"),
            F.col("doc_id"),
            F.explode(F.array_compact(F.array(*structs))).alias("v"),
        )
        .select(
            "partition_id",
            "doc_id",
            F.col("v.check_name").alias("check_name"),
            F.concat(F.col("v.facet"), F.lit(": "), F.coalesce(F.col("v.observed"), F.lit("NULL"))).alias(
                "observed"
            ),
            F.col("v.expected").alias("expected"),
        )
    )


def assemble_violations(df: DataFrame, facets: list[Facet]) -> DataFrame:
    """project_facets + explode_flags in one narrow, shuffle-free pass."""
    return explode_flags(project_facets(df, facets), facets)
