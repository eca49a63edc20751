"""The resumable validation runner.

Orchestration semantics carried over from the reference (SURVEY.md §2.8):

- **fan-out**: all checks compose over one scan; Spark tasks are the
  parallel unit (the reference fans one OS process per item,
  /root/reference/main.nf:91-137).
- **errorStrategy 'ignore'** (/root/reference/modules/ProcessRepo.nf:19):
  a failing check family must not kill the run. Two distinct paths:
  * *missing input* (no allowed_sources / reference_tokens /
    baseline_hist): the check is skipped and ONE run-level UNKNOWN
    verdict row (partition_id = -1) records why — partitions still
    complete, since re-running without the input reproduces the UNKNOWN
    (mirrors the reference's missing-input default,
    bin/analyze_joss.py:96-105). A source-level family (drift,
    token_drift) that errors gets the same run-level row.
  * *check-family error* (exception while building a per-partition
    family's plan): per-partition UNKNOWN verdict rows for the family's
    check names, and those partitions' qc_state rows are UNKNOWN — they
    are NOT marked complete, so resume re-validates them.
- **resume** (/root/reference/nextflow.config:14 workDir caching): a
  `qc_state` table records per-partition lineage; a re-run with the same
  run_id skips completed (PASS/FAIL) partitions. Batch numbering
  continues from the highest *committed* batch (max(batch)+1 from
  qc_state), so resumed batches never clobber completed output; slices
  from a crashed batch (violations/verdicts written, qc_state commit
  missing) are dropped up front.

Execution shape (scale-first):

1. one narrow pass over the fact table computes every row-level facet
   (completeness, structural, format, referential-via-broadcast, token
   lints) plus the invariant's hashed-reference compare, and writes
   violation rows — no shuffle;
2. once-per-run violation families (uniqueness: a dup-count shuffle on
   doc_id; degenerate: an Arrow-staged token pass) go through one loop:
   each is planned and persisted ONCE per run — a multi-batch run pays
   one shuffle / one Arrow pass, not one per batch — and sliced per
   batch by partition_id;
3. verdict counts aggregate the *persisted* violation frame plus one
   cheap totals scan (doc_id only) that overlaps the violations write;
4. source-level verdict families (drift: 64-buckets-per-source
   aggregate via applyInPandas; token_drift: residue-histogram JS) go
   through a second loop: each is planned ONCE per run on the full
   input and lands in the first batch's verdict slice — per-batch drift
   would compute its statistics on partial histograms;
5. qc_state rows are written per batch (idempotent overwrite-by-batch).
"""

from __future__ import annotations

import threading
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokenqc import io as qio
from tokenqc.checks import base as cb
from tokenqc.checks import (
    degeneracy,
    drift,
    invariant,
    referential,
    row_level_facets,
    scoring,
    uniqueness,
)
from tokenqc.schema import FAIL, PASS, UNKNOWN

TABLES = ("violations", "verdicts", "qc_state")

_VERDICT_SCHEMA = (
    "partition_id int, check_name string, status string, "
    "n_rows long, n_viol long, details string"
)
_STATE_SCHEMA = (
    "partition_id int, status string, n_rows long, n_viol long, "
    "wall_ms long, finished_at timestamp"
)
# columns a result table carries ahead of its own schema
_RUN_KEY = "run_id string, batch int, "


@dataclass
class RunResult:
    run_id: str
    verdicts: DataFrame
    violations: DataFrame
    state: DataFrame
    skipped_partitions: list[int] = field(default_factory=list)
    errors: dict[str, str] = field(default_factory=dict)
    timings: dict[str, float] = field(default_factory=dict)


class QCRunner:
    def __init__(
        self,
        spark: SparkSession,
        cfg: cb.CheckConfig | None = None,
        out_dir: str = "qc_out",
        n_batches: int = 1,
    ) -> None:
        if n_batches < 1:
            raise ValueError("n_batches must be >= 1")
        self.spark = spark
        self.cfg = cfg or cb.CheckConfig()
        self.out_dir = out_dir
        self.n_batches = n_batches

    # ------------------------------------------------------------------
    def run(
        self,
        sequences: DataFrame,
        allowed_sources: DataFrame | None = None,
        baseline_hist: DataFrame | None = None,
        reference_tokens: DataFrame | None = None,
        run_id: str | None = None,
        token_baseline_hist: DataFrame | None = None,
    ) -> RunResult:
        cfg = self.cfg
        run_id = run_id or uuid.uuid4().hex[:12]
        errors: dict[str, str] = {}

        completed, committed_batches = self._resume_point(run_id)
        # slices written by a crashed batch (no qc_state commit) would
        # double-count on read-back — drop them before doing anything
        qio.drop_orphan_batches(self.spark, self.out_dir, list(TABLES), run_id, committed_batches)
        batch_start = (max(committed_batches) + 1) if committed_batches else 0
        pending = [p for p in range(cfg.n_partitions) if p not in completed]

        df = sequences.withColumn("partition_id", cb.partition_id_col(cfg))
        has_ref_dim = allowed_sources is not None
        if "referential" in cfg.checks and has_ref_dim:
            df = referential.attach(df, allowed_sources)

        # run-level UNKNOWNs (missing input, errored source-level family):
        # recorded once, at partition -1
        run_level: list[tuple[str, str]] = []
        if "referential" in cfg.checks and not has_ref_dim:
            run_level.append(("referential", "no allowed_sources provided"))
        if "invariant" in cfg.checks and reference_tokens is None:
            run_level.append(("invariant", "no reference_tokens provided"))

        timings: dict[str, float] = {}
        batches = self._plan_batches(pending)

        # once-per-run violation families: planned and persisted once,
        # sliced per batch by partition_id
        prefailed: dict[str, str] = {}
        once: list[DataFrame] = []
        for check, family in (("uniqueness", uniqueness), ("degenerate", degeneracy)):
            if check in cfg.checks and batches:
                try:
                    once.append(family.violations(df, cfg).persist())
                except Exception as e:  # errorStrategy 'ignore'
                    errors[check] = prefailed[check] = repr(e)

        # source-level verdict families: (check, plan, details columns),
        # planned once per run over the full input
        sources: list[tuple[str, DataFrame, tuple[str, ...]]] = []
        for check, baseline, name, details, plan in (
            ("drift", baseline_hist, "baseline_hist", ("chi2", "chi2_p", "ks_d", "ks_p"),
             lambda: drift.verdicts(df, baseline_hist, cfg)),
            ("token_drift", token_baseline_hist, "token_baseline_hist", ("js_divergence",),
             lambda: drift.token_js_divergence(
                 df, token_baseline_hist,
                 js_max=cfg.token_js_max, n_buckets=cfg.token_drift_buckets,
             )),
        ):
            if check not in cfg.checks:
                continue
            if baseline is None:
                run_level.append((check, f"no {name} provided"))
            elif batches:
                try:
                    sources.append((check, plan(), details))
                except Exception as e:  # errorStrategy 'ignore'
                    errors[check] = repr(e)
                    run_level.append((check, repr(e)))

        for i, parts in enumerate(batches):
            self._run_batch(
                df, parts, batch_start + i, run_id, cfg, errors,
                has_ref_dim=has_ref_dim,
                reference=reference_tokens,
                once=once,
                prefailed=prefailed,
                sources=sources if i == 0 else [],
                run_level=run_level if i == 0 else [],
                timings=timings,
            )
        for frame in once:
            frame.unpersist()

        def current(table: str, ddl: str) -> DataFrame:
            got = self._read_current(run_id, table)
            return got if got is not None else self.spark.createDataFrame([], _RUN_KEY + ddl)

        return RunResult(
            run_id=run_id,
            verdicts=current("verdicts", _VERDICT_SCHEMA),
            violations=current("violations", cb.VIOLATION_SCHEMA),
            state=current("qc_state", _STATE_SCHEMA),
            skipped_partitions=sorted(completed),
            errors=errors,
            timings=timings,
        )

    # ------------------------------------------------------------------
    def _read_current(self, run_id: str, table: str) -> DataFrame | None:
        """Latest-committed-batch view — see io.read_current (hoisted
        there so the runner and report.diff_runs share one
        implementation of the supersede semantics)."""
        return qio.read_current(self.spark, self.out_dir, table, run_id)

    # ------------------------------------------------------------------
    def _resume_point(self, run_id: str) -> tuple[set[int], set[int]]:
        """(completed partitions, committed batches) from qc_state.

        Only PASS/FAIL state rows mark a partition complete — an UNKNOWN
        row (a check family errored there) is re-validated on resume."""
        state = qio.read_table(self.spark, self.out_dir, "qc_state", run_id)
        if state is None:
            return set(), set()
        rows = state.select("partition_id", "status", "batch").collect()
        completed = {r.partition_id for r in rows if r.status in (PASS, FAIL)}
        committed = {int(r.batch) for r in rows}
        return completed, committed

    def _plan_batches(self, pending: list[int]) -> list[list[int]]:
        if not pending:
            return []
        nb = min(self.n_batches, len(pending))
        size = -(-len(pending) // nb)
        return [pending[i : i + size] for i in range(0, len(pending), size)]

    # ------------------------------------------------------------------
    def _run_batch(
        self,
        df: DataFrame,
        parts: list[int],
        batch: int,
        run_id: str,
        cfg: cb.CheckConfig,
        errors: dict[str, str],
        has_ref_dim: bool,
        reference: DataFrame | None,
        once: list[DataFrame],
        prefailed: dict[str, str],
        sources: list[tuple[str, DataFrame, tuple[str, ...]]],
        run_level: list[tuple[str, str]],
        timings: dict[str, float],
    ) -> None:
        def _mark(name: str, start: float) -> float:
            now = time.monotonic()
            timings[name] = timings.get(name, 0.0) + round(now - start, 3)
            return now

        t0 = time.monotonic()
        spark = self.spark
        full_batch = len(parts) == cfg.n_partitions
        bdf = df if full_batch else df.where(F.col("partition_id").isin(parts))
        failed: dict[str, str] = dict(prefailed)  # check_name -> error detail

        # --- violations: ONE narrow scan for all row-level gates, with the
        # invariant fused in (tokens hashed once, 8-byte hashes joined to
        # the pre-hashed reference — the tokens column is read exactly
        # once per side across the whole run) + the once-per-run slices
        viol_parts: list[DataFrame] = []
        facets = row_level_facets(cfg, with_referential=has_ref_dim)
        want_invariant = "invariant" in cfg.checks and reference is not None
        fused_checks = sorted({f.check for f in facets}) + (["invariant"] if want_invariant else [])
        if fused_checks:
            try:
                extra = (
                    [F.xxhash64("tokens").alias("__tok_hash")] if want_invariant else []
                )
                narrow = cb.project_facets(bdf, facets, extra)
                all_facets = list(facets)
                if want_invariant:
                    refh = reference.select(
                        "doc_id", F.xxhash64("tokens_ref").alias("__ref_hash")
                    )
                    narrow = narrow.join(refh, on="doc_id", how="left")
                    inv = cb.Facet(
                        invariant.CHECK,
                        "tokens_mismatch",
                        F.col("__ref_hash").isNotNull()
                        & (F.col("__tok_hash") != F.col("__ref_hash")),
                        F.lit("hash(tokens) != hash(tokens_ref)"),
                        "tokens == tokens_ref",
                    )
                    i = len(all_facets)
                    narrow = narrow.withColumn(f"__c{i}", inv.cond).withColumn(
                        f"__o{i}", F.when(inv.cond, inv.observed)
                    )
                    all_facets.append(inv)
                viol_parts.append(cb.explode_flags(narrow, all_facets))
            except Exception as e:  # errorStrategy 'ignore'
                errors["row_level"] = repr(e)
                for c in fused_checks:
                    failed[c] = repr(e)
        for frame in once:
            viol_parts.append(
                frame if full_batch else frame.where(F.col("partition_id").isin(parts))
            )

        _t = _mark("build_plan", t0)
        if not viol_parts:
            viol_parts.append(spark.createDataFrame([], cb.VIOLATION_SCHEMA))
        viol = viol_parts[0]
        for extra in viol_parts[1:]:
            viol = viol.unionByName(extra)
        # cluster the (sparse) violation rows by lineage partition before
        # the sink: one small shuffle (AQE-coalesced) instead of one tiny
        # output file per scan task. persist() so the verdict counts reuse
        # the computed rows instead of re-reading the written parquet.
        viol = viol.repartition("partition_id").persist()

        # --- overlap independent side jobs with the big violations write:
        # the totals scan (doc_id only) and the source-level pipelines
        # (histogram shuffle + applyInPandas) share no lineage with the
        # violation sink, so a second driver thread materializes them
        # while the scan/join/write saturates the executors — Spark's
        # scheduler interleaves jobs from concurrent threads (FIFO within
        # cores)
        totals = bdf.groupBy("partition_id").agg(F.count(F.lit(1)).alias("n_rows"))
        side: dict[str, DataFrame] = {}

        def _materialize_side() -> None:
            try:
                for name, frame in [("totals", totals)] + [(c, p) for c, p, _ in sources]:
                    cached = frame.persist()
                    cached.count()
                    side[name] = cached
            except Exception as e:  # errorStrategy 'ignore'
                errors["side_jobs"] = repr(e)

        side_thread = threading.Thread(target=_materialize_side, daemon=True)
        side_thread.start()
        # the compute is fused into the sink: per-layer attribution of
        # this phase comes from the engine's own operator metrics
        qio.write_batch(viol, self.out_dir, "violations", run_id, batch)
        _t = _mark("violations_compute_write", _t)
        side_thread.join()
        _t = _mark("side_jobs_join", _t)

        # --- verdict counts: persisted violations × cheap totals scan ----
        totals = side.get("totals", totals)
        counts = viol.groupBy("partition_id", "check_name").agg(
            F.count(F.lit(1)).alias("n_viol")
        )
        active = [c for c in cfg.checks if c not in ("drift", "token_drift")]
        if "invariant" in active and reference is None:
            active.remove("invariant")
        if "referential" in active and not has_ref_dim:
            active.remove("referential")
        active = [c for c in active if c not in failed]
        if active:
            grid = totals.select(
                "partition_id",
                "n_rows",
                F.explode(F.array(*[F.lit(c) for c in active])).alias("check_name"),
            )
            # counts is bounded by n_partitions × checks — broadcast it so
            # the verdict grid never shuffles (one less tiny-but-serial stage)
            per_check = grid.join(
                F.broadcast(counts), on=["partition_id", "check_name"], how="left"
            ).fillna({"n_viol": 0})
            thr = F.create_map(
                *[x for c in active for x in (F.lit(c), F.lit(cfg.threshold(c)))]
            )
            rate = F.when(F.col("n_rows") > 0, F.col("n_viol") / F.col("n_rows")).otherwise(F.lit(0.0))
            status = F.when(rate <= thr[F.col("check_name")], F.lit(PASS)).otherwise(F.lit(FAIL))
            verdicts = per_check.select(
                "partition_id",
                "check_name",
                status.alias("status"),
                "n_rows",
                "n_viol",
                F.lit(None).cast("string").alias("details"),
            )
        else:
            verdicts = spark.createDataFrame([], _VERDICT_SCHEMA)

        # --- source-level verdicts (partition_id = -1), computed once per
        # run over the full input (only the run's first batch gets them);
        # n_rows is the family's histogram unit (rows for drift, TOKENS
        # for token_drift), details carries its statistics
        source_verdicts: list[DataFrame] = []
        run_level = list(run_level)
        for check, plan, details in sources:
            try:
                source_verdicts.append(side.get(check, plan).select(
                    F.lit(-1).alias("partition_id"),
                    F.concat(F.lit(f"{check}:"), F.col("source")).alias("check_name"),
                    F.col("status"),
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.lit(0).cast("long").alias("n_viol"),
                    F.to_json(F.struct(*details)).alias("details"),
                ))
            except Exception as e:  # errorStrategy 'ignore'
                errors[check] = repr(e)
                run_level.append((check, repr(e)))

        # errored check families → per-partition UNKNOWN rows: the
        # partition is NOT graded PASS (no silent fillna(0)), and its
        # qc_state row below becomes UNKNOWN so resume re-validates it;
        # run-level UNKNOWNs → one row each at partition -1
        unknown_rows = [
            (pid, check, UNKNOWN, 0, 0, detail)
            for check, detail in sorted(failed.items())
            for pid in parts
        ] + [(-1, check, UNKNOWN, 0, 0, detail) for check, detail in run_level]
        if unknown_rows:
            verdicts = verdicts.unionByName(
                spark.createDataFrame(unknown_rows, _VERDICT_SCHEMA)
            )
        for frame in source_verdicts:
            verdicts = verdicts.unionByName(frame)

        _t = _mark("verdicts_plan", _t)
        # materialize the verdict frame ONCE, driver-side: it is bounded by
        # construction (n_partitions × checks + drift sources + unknown
        # rows), so collecting it and deriving qc_state in plain Python
        # replaces a second execution of the whole verdict aggregation (the
        # old state = verdicts.groupBy(...) plan) with two tiny
        # single-partition commits — the serial commit tail was the
        # residual N→4N scaling gap (VERDICT r2 #4)
        verdict_rows = verdicts.collect()
        _t = _mark("verdicts_collect", _t)
        qio.write_batch_rows(
            spark, verdict_rows, _VERDICT_SCHEMA, self.out_dir, "verdicts", run_id, batch
        )
        _t = _mark("verdicts_write", _t)

        # --- qc_state lineage rows (written LAST: a state row for a
        # partition implies its violations/verdicts committed) ------------
        wall_ms = int((time.monotonic() - t0) * 1000)
        per_part: dict[int, dict] = {}
        for r in verdict_rows:
            pid = r["partition_id"]
            if pid is None or pid < 0:
                continue
            s = per_part.setdefault(
                pid, {"any_fail": False, "any_unknown": False, "n_rows": 0, "n_viol": 0}
            )
            s["any_fail"] = s["any_fail"] or r["status"] == FAIL
            s["any_unknown"] = s["any_unknown"] or r["status"] == UNKNOWN
            s["n_rows"] = max(s["n_rows"], r["n_rows"] or 0)
            s["n_viol"] += r["n_viol"] or 0
        # timezone-aware so the pyarrow fast path stores the same
        # UTC-adjusted instant Spark's session-local write would
        now = datetime.now().astimezone()
        state_rows = [
            (
                pid,
                UNKNOWN if s["any_unknown"] else (FAIL if s["any_fail"] else PASS),
                s["n_rows"],
                s["n_viol"],
                wall_ms,
                now,
            )
            for pid, s in sorted(per_part.items())
        ]
        qio.write_batch_rows(
            spark, state_rows, _STATE_SCHEMA, self.out_dir, "qc_state", run_id, batch
        )
        viol.unpersist()
        for cached in side.values():
            cached.unpersist()
        _mark("state_write", _t)

    # ------------------------------------------------------------------
    def report(self, run_id: str) -> DataFrame | None:
        """Scored per-partition report (analyze_joss.py:505-508 semantics)."""
        verd = self._read_current(run_id, "verdicts")
        if verd is None:
            return None
        return scoring.partition_report(
            verd.where(F.col("partition_id") >= 0).select(
                "partition_id", "check_name", "n_rows", "n_viol"
            )
        )

    def write_report(
        self,
        run_id: str,
        js_drift: DataFrame | None = None,
        text_qc: list | None = None,
        pack_stats: dict | None = None,
        snapshot_diff: DataFrame | None = None,
    ) -> str | None:
        """Render the run's human-readable HTML artifact (reference
        analogue: test-results/POT_ai_analysis.html) to
        <out_dir>/reports/run_id=<id>/report.html; None if nothing ran.

        The optional sections surface the corpus-level operators that
        run OUTSIDE the check families: a drift.js_divergence frame,
        report.text_qc_rows (repetition/PII roll-up) and
        report.pack_stats_row (packing footer)."""
        import os

        from tokenqc import report as qreport

        rep = self.report(run_id)
        if rep is None:
            return None
        verd = self._read_current(run_id, "verdicts")
        viol = self._read_current(run_id, "violations")
        html = qreport.render_html(
            run_id, rep, verd, viol,
            js_drift=js_drift, text_qc=text_qc, pack_stats=pack_stats,
            scale_evidence=qreport.load_scale_evidence(),
            snapshot_diff=snapshot_diff,
        )
        path = os.path.join(self.out_dir, "reports", f"run_id={run_id}", "report.html")
        return qreport.write_text(self.spark, path, html)
