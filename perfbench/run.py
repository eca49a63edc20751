"""tokenqc benchmark: ``QCRunner.run`` end to end on seeded synthetic input.

    python3 perfbench/run.py --workload qc_token_gates --seed 1 --seconds 6 --trace 0

Run from the root of a tokenqc checkout. One process, one Spark session
over ``local[<cores>]``:

- generate (or reuse) the seeded input, outside every timed window;
- set-up: session start plus input registration (``setup_s``);
- the first ``QCRunner.run`` of the fresh session (``cold_run_s``);
- one warm-up run, then warm runs until ``--seconds`` of run wall is
  measured (medians: ``qc_rows_per_s``, ``cpu_s_per_mrow``).

Every run's output is checked against closed-form expectations.

``--trace 1`` enables Spark's UI/REST server, wraps the layer calls in
spans, runs each check family on its own through a noop sink and
reports the per-layer metrics instead. The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

import inputs
import layers
import sessions

ROWS = 8_000
RESUME_BATCHES = 4  # the crash leaves the last half of them uncommitted
WORKLOADS = ("qc_token_gates", "qc_resume")
FAMILIES = (
    "row_gates", "token_lints", "uniqueness", "invariant",
    "drift", "degeneracy", "token_drift",
)
FAMILY_FIELDS = (
    "wall_s", "rows_out", "scan_bytes", "shuffle_bytes", "spill_bytes",
    "executor_cpu_s", "gc_s", "max_task_s", "python_sent_bytes",
    "python_received_bytes", "python_s", "python_boot_init_s",
)
PHASES = (
    "build_plan", "violations_compute_write", "side_jobs_join", "verdicts_plan",
    "verdicts_collect", "verdicts_write", "state_write",
)
# share of the traced wall that may fall outside every layer span
SPAN_TOLERANCE = 0.02
GROUP_SPANS = ("run", "workload", "checks")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def check_config(kind: str):
    from tokenqc.checks.base import CheckConfig

    if kind == "default":
        return CheckConfig(n_partitions=inputs.N_PARTITIONS)
    return CheckConfig(
        n_partitions=inputs.N_PARTITIONS,
        checks=CheckConfig().checks + ("tokens", "degenerate", "token_drift"),
        vocab_size=inputs.VOCAB,
        bos_id=inputs.BOS_ID,
        eos_id=inputs.EOS_ID,
        max_token_run=inputs.MAX_TOKEN_RUN,
        min_entropy=inputs.MIN_ENTROPY,
        max_dup_kgram_frac=inputs.MAX_DUP_KGRAM_FRAC,
        degen_kgram_k=inputs.KGRAM_K,
    )


class Bench:
    """One workload in one session: runs, output checks and timings."""

    def __init__(self, spark, tables, kind, expected, work, tracer=None) -> None:
        self.spark = spark
        self.t = tables
        self.kind = kind
        self.cfg = check_config(kind)
        self.expected = expected[kind]
        self.expected_rows = expected["rows"]
        self.out_root = fresh_dir(os.path.join(work, "out"))
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.runs: list[dict] = []  # one entry per timed warm run

    # -- running ---------------------------------------------------------
    def run_qc(self, out_dir: str, run_id: str, n_batches: int, label: str):
        """One timed ``QCRunner.run``: (result, wall seconds, cpu seconds, span)."""
        from tokenqc import io as qio
        from tokenqc.runner import QCRunner

        runner = QCRunner(self.spark, self.cfg, out_dir=out_dir, n_batches=n_batches)
        kwargs = dict(
            allowed_sources=self.t["allowed_sources"],
            baseline_hist=self.t["baseline_hist"],
            reference_tokens=self.t["reference_tokens"],
            token_baseline_hist=self.t["token_baseline"],
            run_id=run_id,
        )
        span = None
        # collect the previous run's garbage before the clock starts, so a
        # run does not pay for its predecessor's allocations
        with self.span("bench.gc"):
            self.spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        cpu0 = layers.tree_cpu_s()
        t0 = time.monotonic()
        if self.tracer is None:
            res = runner.run(self.t["sequences"], **kwargs)
        else:
            io_calls = ["write_batch", "write_batch_rows", "read_current",
                        "list_batches", "drop_orphan_batches"]
            with layers.job_group(self.spark, f"runner.{label}"), self.tracer.span(
                f"runner.{label}"
            ) as span, layers.wrapped(qio, io_calls, self.tracer, "io"):
                res = runner.run(self.t["sequences"], **kwargs)
        wall = time.monotonic() - t0
        log(f"run {label}: {wall:.3f} s, phases {res.timings}")
        return res, wall, layers.tree_cpu_s() - cpu0, span

    def attempt(self, fn) -> float | None:
        """One timed QC run plus its output check. `fn` returns (wall,
        check passed); returns the wall of a run that passed, else None."""
        self.attempted += 1
        try:
            wall, ok = fn()
        except Exception:  # a failed run is counted, not fatal
            log(traceback.format_exc())
            wall, ok = None, False
        if not ok:
            self.failed += 1
        return wall if ok else None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def rows_per_s(self) -> float:
        """Median over the timed warm runs; raises if none completed."""
        if not self.runs:
            raise RuntimeError("no timed warm run completed")
        return statistics.median(r["rows"] / r["wall"] for r in self.runs)

    # -- output checks ---------------------------------------------------
    def check(self, res, extra: list[str] | None = None) -> list[str]:
        """Problems with one run's outputs (empty list: correct)."""
        problems = list(extra or [])
        if res.errors:
            problems.append(f"errors: {res.errors}")
        counts = {
            r["check_name"]: r["count"]
            for r in res.violations.groupBy("check_name").count().collect()
        }
        if counts != {c: n for c, n in self.expected.items() if n}:
            problems.append(f"violation counts {counts} != expected {self.expected}")
        verdicts = res.verdicts.collect()
        part = [v for v in verdicts if v["partition_id"] >= 0]
        active = sorted(self.expected)
        if len(part) != inputs.N_PARTITIONS * len(active):
            problems.append(f"{len(part)} partition verdicts, expected "
                            f"{inputs.N_PARTITIONS}x{len(active)}")
        sums = Counter()
        for v in part:
            sums[v["check_name"]] += v["n_viol"]
            if v["status"] != ("FAIL" if v["n_viol"] else "PASS"):
                problems.append(f"verdict {v} inconsistent with threshold 0")
        if {c: sums.get(c, 0) for c in active} != self.expected:
            problems.append(f"verdict n_viol sums {dict(sums)} != {self.expected}")
        status = {v["check_name"]: v["status"] for v in verdicts if v["partition_id"] < 0}
        want = {"drift:code": "FAIL"}
        if self.kind == "token_gates":
            want |= {"token_drift:code": "FAIL", "token_drift:spam9": "UNKNOWN"}
        for name, st in want.items():
            if status.get(name) != st:
                problems.append(f"{name} is {status.get(name)}, expected {st}")
        return problems

    def checked(self, res, extra=None) -> bool:
        with self.span("bench.check"):
            problems = self.check(res, extra)
        for p in problems:
            log(f"output check failed: {p}")
        return not problems


def multisets(res) -> tuple[Counter, Counter]:
    verd = Counter(
        tuple(r) for r in res.verdicts.select(
            "partition_id", "check_name", "status", "n_rows", "n_viol", "details"
        ).collect()
    )
    viol = Counter(
        tuple(r) for r in res.violations.select(
            "partition_id", "doc_id", "check_name", "observed", "expected"
        ).collect()
    )
    return verd, viol


def files_since(path: str, since: float) -> tuple[int, int]:
    """(files, bytes) under `path` modified at or after `since`."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def warm_loop(b: Bench, seconds: float, one) -> None:
    """A warm-up run `one(0)`, checked but left out of the medians (the
    JIT is still compiling when the plans first repeat: on a 4-core box
    its wall ran up to 31% above the next run's), then timed runs `one(i)` until
    `seconds` of run wall are measured (a run that failed counts with
    its elapsed time)."""
    b.attempt(lambda: one(0))
    b.runs.clear()
    measured, i = 0.0, 1
    while measured < seconds:
        t0 = time.monotonic()
        wall = b.attempt(lambda: one(i))
        measured += wall if wall is not None else time.monotonic() - t0
        i += 1


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
def token_gates(b: Bench, seconds: float) -> float | None:
    """Defaults plus token lints, degeneracy and token drift, one batch."""

    def cold():
        res, wall, _, _ = b.run_qc(os.path.join(b.out_root, "cold"), "cold", 1, "cold")
        return wall, b.checked(res)

    cold_wall = b.attempt(cold)

    def warm(i):
        out = os.path.join(b.out_root, f"warm{i}")
        start = time.time()
        res, wall, cpu, span = b.run_qc(out, f"warm{i}", 1, f"warm{i}")
        ok = b.checked(res)
        if ok:
            b.runs.append({"wall": wall, "cpu": cpu, "rows": b.expected_rows, "res": res,
                           "span": span, "out": out, "start": start})
        return wall, ok

    warm_loop(b, seconds, warm)
    return cold_wall


def resume(b: Bench, seconds: float) -> float | None:
    """An interrupted multi-batch run is resumed with the same run_id.

    The first run of the session commits every batch (``cold_run_s``);
    deleting the qc_state commits of its last half of batches simulates a
    crash after their violation and verdict writes. Each timed run
    restores that crashed state (untimed) and resumes it."""
    out = os.path.join(b.out_root, "resume")
    snap = os.path.join(b.out_root, "crashed")
    state: dict = {}

    def cold():
        res, wall, _, _ = b.run_qc(out, "resume", RESUME_BATCHES, "cold")
        if not b.checked(res):
            return wall, False
        with b.span("bench.check"):
            state["ref"] = multisets(res)
            st = res.state.select("batch", "partition_id", "n_rows").collect()
        lost = set(range(RESUME_BATCHES // 2, RESUME_BATCHES))
        state["pending"] = sorted(r["partition_id"] for r in st if r["batch"] in lost)
        state["rows"] = sum(r["n_rows"] for r in st if r["batch"] in lost)
        with b.span("bench.crash"):
            for batch in lost:
                shutil.rmtree(os.path.join(out, "qc_state", "run_id=resume", f"batch={batch}"))
            shutil.copytree(out, snap)
        return wall, True

    cold_wall = b.attempt(cold)
    if cold_wall is None:
        raise RuntimeError("the run to be resumed failed; nothing to time")
    n_skipped = inputs.N_PARTITIONS - len(state["pending"])

    def warm(i):
        rerun = os.path.join(b.out_root, f"resume{i}")
        with b.span("bench.crash"):
            shutil.copytree(snap, rerun)
        start = time.time()
        res, wall, cpu, span = b.run_qc(rerun, "resume", RESUME_BATCHES, f"resume{i}")
        extra = []
        if len(res.skipped_partitions) != n_skipped:
            extra.append(f"{len(res.skipped_partitions)} skipped partitions, "
                         f"expected {n_skipped}")
        with b.span("bench.check"):
            verd, viol = multisets(res)
        if verd != state["ref"][0]:
            extra.append("resumed verdicts differ from the uninterrupted run's")
        if viol != state["ref"][1]:
            extra.append("resumed violations differ from the uninterrupted run's")
        ok = b.checked(res, extra)
        if ok:
            b.runs.append({"wall": wall, "cpu": cpu, "rows": state["rows"], "res": res,
                           "span": span, "out": rerun, "start": start})
        return wall, ok

    warm_loop(b, seconds, warm)
    return cold_wall


# ---------------------------------------------------------------------------
# traced run: per-family calls and per-layer metrics
# ---------------------------------------------------------------------------
def family_frames(b: Bench) -> dict:
    """The public violation/verdict builder of each enabled check family
    on the workload's input and config."""
    from tokenqc.checks import base as cb
    from tokenqc.checks import (
        completeness, degeneracy, drift, invariant, referential, structural,
        tokens, uniqueness,
    )
    from tokenqc.checks import format as fmt

    cfg, t = b.cfg, b.t
    df = t["sequences"].withColumn("partition_id", cb.partition_id_col(cfg))
    builders = {
        "row_gates": lambda: cb.assemble_violations(
            referential.attach(df, t["allowed_sources"]),
            completeness.facets(cfg) + structural.facets(cfg)
            + fmt.facets(cfg) + referential.facets(cfg),
        ),
        "uniqueness": lambda: uniqueness.violations(df, cfg),
        "invariant": lambda: invariant.violations(df, t["reference_tokens"], cfg),
        "drift": lambda: drift.verdicts(df, t["baseline_hist"], cfg),
    }
    if "tokens" in cfg.checks:
        builders["token_lints"] = lambda: cb.assemble_violations(df, tokens.facets(cfg))
    if "degenerate" in cfg.checks:
        builders["degeneracy"] = lambda: degeneracy.violations(df, cfg)
    if "token_drift" in cfg.checks:
        builders["token_drift"] = lambda: drift.token_js_divergence(
            df, t["token_baseline"], js_max=cfg.token_js_max,
            n_buckets=cfg.token_drift_buckets,
        )
    return builders


def run_families(b: Bench) -> dict[str, dict]:
    """Each enabled family alone through a noop sink, under its own job
    group and span; an observation counts its output rows."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    out = {}
    for name, build in family_frames(b).items():
        label = f"checks.{name}"
        obs = Observation(label)
        with layers.job_group(b.spark, label), b.tracer.span(label) as span:
            build().observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()
        out[name] = {"span": span, "rows_out": obs.get["rows"]}
    return out


def per_layer(b: Bench, rest, fams: dict, session_s: float, rss) -> dict:
    """Every per-layer metric of a traced run. Runner and io figures come
    from the warm run with the median wall; families the workload does
    not enable report 0."""
    snap = rest.snapshot()
    m: dict[str, float] = {"session.get_spark_s": session_s}
    rep = sorted(b.runs, key=lambda r: r["wall"])[len(b.runs) // 2]  # median run
    timings = rep["res"].timings
    for p in PHASES:
        m[f"runner.{p}_s"] = timings.get(p, 0.0)
    m["runner.pre_batch_s"] = rep["wall"] - sum(timings.values())
    span = rep["span"]
    seq_rows = b.expected_rows
    eng = rest.window(snap, span["start"], span["end"], seq_rows)
    m["runner.jobs"] = eng["jobs"]
    m["runner.stages"] = eng["stages"]
    m["runner.sequences_scans"] = eng["sequences_scans"]
    for name in FAMILIES:
        vals = dict.fromkeys(FAMILY_FIELDS, 0.0)
        if name in fams:
            s = fams[name]["span"]
            eng = rest.window(snap, s["start"], s["end"], seq_rows, group=f"checks.{name}")
            vals |= {k: eng[k] for k in FAMILY_FIELDS if k in eng}
            vals["wall_s"] = s["end"] - s["start"]
            vals["rows_out"] = fams[name]["rows_out"]
        for k, v in vals.items():
            m[f"checks.{name}.{k}"] = v
    io_s = Counter()
    for s in b.tracer.spans:
        if span["start"] <= s["start"] and s["end"] <= span["end"] and s["name"].startswith("io."):
            io_s[s["name"]] += s["end"] - s["start"]
    m["io.write_batch_s"] = io_s["io.write_batch"] + io_s["io.write_batch_rows"]
    m["io.read_current_s"] = io_s["io.read_current"]
    m["io.list_batches_s"] = io_s["io.list_batches"]
    m["io.files_written"], m["io.bytes_written"] = files_since(rep["out"], rep["start"])
    m["mem.jvm_peak_rss_mb"] = rss.jvm_peak / 2**20
    m["mem.py_workers_peak_rss_mb"] = rss.workers_peak / 2**20
    m["trace.qc_rows_per_s"] = b.rows_per_s()
    return m


# ---------------------------------------------------------------------------
def declared_units(root: str, trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def unattributed_s(tracer: layers.Tracer) -> float:
    """Self time of the grouping spans: traced wall that no layer span
    (session, runner, io, check family or the benchmark's own output
    checks) covers."""
    selfs = tracer.self_times()
    return sum(selfs[s["id"]] for s in tracer.spans if s["name"] in GROUP_SPANS)


def main() -> int:
    ap = argparse.ArgumentParser(description="tokenqc QCRunner benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = time.monotonic()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tokenqc", "runner.py")):
        log("run from the root of a tokenqc checkout (tokenqc/runner.py not found)")
        return 2
    units = declared_units(root, bool(args.trace))
    work = os.path.join(root, ".perfbench_work")
    sys.path.insert(0, root)
    sessions.prepare_env(root, work)

    data_dir, expected = inputs.ensure(work, args.seed, ROWS)
    log(f"generation_s {expected['generation_s']:.3f} (seed {args.seed}, "
        f"{ROWS} rows; not part of setup_s)")
    import tokenqc.runner  # noqa: F401  - imports stay outside the timed window

    trace = bool(args.trace)
    tracer = layers.Tracer() if trace else None
    kind = "token_gates" if args.workload == "qc_token_gates" else "default"
    workload = token_gates if args.workload == "qc_token_gates" else resume

    spark = None
    try:
        if trace:
            with layers.RssSampler() as rss, tracer.span("run") as root_span:
                with tracer.span("session.get_spark") as s_span:
                    spark = sessions.start_session(work, ui=True)
                with tracer.span("session.register"):
                    tables = sessions.register(spark, sessions.dataset_paths(data_dir))
                b = Bench(spark, tables, kind, expected, work, tracer)
                with tracer.span("workload"):
                    workload(b, args.seconds)
                with tracer.span("checks"):
                    fams = run_families(b)
            rest = layers.SparkRest(spark)
            metrics = per_layer(b, rest, fams, s_span["end"] - s_span["start"], rss)
        else:
            t0 = time.monotonic()
            spark = sessions.start_session(work, ui=False)
            tables = sessions.register(spark, sessions.dataset_paths(data_dir))
            setup_s = time.monotonic() - t0
            b = Bench(spark, tables, kind, expected, work)
            cold_run_s = workload(b, args.seconds)
            metrics = {
                "qc_rows_per_s": b.rows_per_s(),
                "cold_run_s": cold_run_s,
                "cpu_s_per_mrow": statistics.median(r["cpu"] / r["rows"] * 1e6 for r in b.runs),
                "setup_s": setup_s,
            }
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        sessions.shutdown(spark)

    if trace:
        os.makedirs(os.path.join(work, "spans"), exist_ok=True)
        span_file = os.path.join(work, "spans", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(span_file)
        wall = root_span["end"] - root_span["start"]
        gap = unattributed_s(tracer)
        log(f"spans: {span_file}; traced wall {wall:.3f} s, {gap:.3f} s outside "
            f"every layer span")
        if gap > SPAN_TOLERANCE * wall:
            log(f"layer spans leave more than {SPAN_TOLERANCE:.0%} of the traced wall "
                f"unattributed")
            b.failed += 1
    log(f"warm run walls {[round(r['wall'], 3) for r in b.runs]}")
    log(f"run_fail_frac {b.failed / b.attempted:.4f} ({b.failed} of {b.attempted} runs)")
    if set(metrics) != set(units):
        log(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
        return 1
    if any(v is None for v in metrics.values()):
        log(f"missing metrics: {[k for k, v in metrics.items() if v is None]}")
        return 1
    for k, v in metrics.items():
        log(f"{k} {v:.6g} {units[k]}")
    log(f"benchmark process wall {time.monotonic() - started:.1f} s")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
