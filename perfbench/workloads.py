"""The benchmark's passes over the engine's public API.

Every pass re-reads the staged parquet, so the suite's compiled-graph
cache never hits and each pass pays planning as a `jobs/validate.py` run
does. Each pass runs under its own Spark job group, so its jobs and tasks
can be counted from the status tracker afterwards. Gates run after the
pass, outside its timed region and job group.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ssimulacra2_spark.config import CheckSuiteConfig
from ssimulacra2_spark.operators.checks import VERDICT_SCHEMA
from ssimulacra2_spark.plans.suite import ValidationSuite, summarize
from ssimulacra2_spark.sources.tableio import ParquetTableIO

from . import gates
from .spans import Tracer

SUITE_CHECKS = (
    "schema", "min_rows", "row_parity", "uniqueness", "monotone_ts",
    "vocab_role", "vocab_tool", "text_parity", "column_stats", "psi_ks",
    "emb_drift", "drift_score",
)
# per-layer metric of each one-check isolated pass
CHECK_LAYERS = {
    "uniqueness": "operators.checks.uniqueness_s",
    "monotone_ts": "operators.checks.monotone_ts_s",
    "vocab_role": "operators.checks.vocab_role_s",
    "vocab_tool": "operators.checks.vocab_tool_s",
    "text_parity": "operators.checks.text_parity_s",
    "row_parity": "operators.checks.row_parity_s",
    "min_rows": "operators.checks.min_rows_s",
    "schema": "operators.checks.schema_s",
    "column_stats": "operators.stats.column_stats_s",
    "psi_ks": "operators.drift.psi_ks_s",
    "emb_drift": "operators.drift.emb_drift_s",
    "drift_score": "operators.drift_arrow.drift_score_s",
}
RUN_ID = "bench"
SEEDED_COMMITS = 3  # resume_tail's crashed run committed 3 of its slices


def suite_config(checks: tuple[str, ...] = SUITE_CHECKS) -> CheckSuiteConfig:
    return CheckSuiteConfig(n_buckets=32, num_scales=4, checks=checks)


def commit_slice(partition_id: int, n_slices: int) -> int:
    """The commit slice the suite writes a verdict row in: pid % n, and
    slice 0 for the schema verdict (partition -1)."""
    return 0 if partition_id < 0 else partition_id % n_slices


def placeholder_verdicts(partitions, n_slices: int, slices) -> list[tuple]:
    """Passing verdict rows for every check of the partitions in `slices`."""
    rows = [(-1, "schema", True, 0, None)] if 0 in slices else []
    rows += [
        (p, c, True, 0, None)
        for p in sorted(partitions)
        if commit_slice(p, n_slices) in slices
        for c in SUITE_CHECKS
        if c != "schema"
    ]
    return rows


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under `path`."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


@dataclass
class PassResult:
    pass_id: str
    wall_s: float
    ok: bool
    verdicts: list[tuple] = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    bytes_written: int = 0
    files_written: int = 0
    new_partitions: dict[str, int] = field(default_factory=dict)


class Bench:
    def __init__(
        self,
        spark: SparkSession,
        tracer: Tracer,
        ref_path: str,
        cand_path: str,
        work_dir: str,
        expected: gates.Expected,
    ) -> None:
        self.spark = spark
        self.tracer = tracer
        self.ref_path = ref_path
        self.cand_path = cand_path
        self.work_dir = work_dir
        self.expected = expected
        self.n_slices = suite_config().commit_batches
        self.first: dict[object, list[tuple]] = {}  # first verdicts per pass kind
        self.results: list[PassResult] = []

    # -- plumbing -----------------------------------------------------------
    def _inputs(self):
        read = self.spark.read.parquet
        return read(self.ref_path), read(self.cand_path)

    def _begin(self, pass_id: str) -> None:
        self.spark.sparkContext.setJobGroup(pass_id, pass_id)
        self.tracer.pass_id = pass_id

    def _end(self, res: PassResult) -> None:
        """Count the pass's jobs and tasks, leave its job group and drop
        the blocks it persisted."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(res.pass_id)
        res.jobs = len(jobs)
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None:
                    res.tasks += si.numCompletedTasks
                    res.failed_tasks += si.numFailedTasks
        sc.setJobGroup("gates", "untimed gate and cleanup work")
        self.tracer.pass_id = None
        self.spark.catalog.clearCache()

    def _gate(self, res: PassResult, kind, problems: list[str]) -> None:
        """Fail the pass on any problem, or if its verdicts differ from the
        first pass of the same kind in this run."""
        first = self.first.setdefault(kind, res.verdicts)
        n = gates.verdict_diff(res.verdicts, first)
        if n:
            problems.append(f"{n} verdict rows differ from the first {kind} pass")
        if problems:
            res.ok = False
            print(f"GATE FAIL {res.pass_id}: {'; '.join(problems)}", file=sys.stderr)

    def guarded(self, pass_id: str, fn, *args) -> PassResult:
        """Run one pass; an exception fails the pass (never retried)."""
        try:
            res = fn(pass_id, *args)
        except Exception:
            traceback.print_exc()
            self.spark.sparkContext.setJobGroup("gates", "cleanup")
            self.tracer.pass_id = None
            self.spark.catalog.clearCache()
            res = PassResult(pass_id, float("nan"), False)
        self.results.append(res)
        print(f"perfbench: pass {res.pass_id} {res.wall_s:.3f}s ok={res.ok} jobs={res.jobs}",
              file=sys.stderr, flush=True)
        return res

    # -- suite_inmem ----------------------------------------------------------
    def inmem_pass(self, pass_id: str, checks=SUITE_CHECKS) -> PassResult:
        """ValidationSuite.run without TableIO, then violations and verdicts
        sunk to `noop` (the shape of bench.py). Observations on the two
        sinks return the anchor counts and the verdict rows from the same
        pass."""
        t = self.tracer
        obs_x, obs_v = Observation(), Observation()
        self._begin(pass_id)
        t0 = time.perf_counter()
        with t.span("pass"):
            ref, cand = self._inputs()
            with t.span("plans.suite.plan"):
                verdicts, violations = ValidationSuite(suite_config(checks)).run(
                    self.spark, ref, cand
                )
            with t.span("plans.suite.violations_sink"):
                violations.observe(obs_x, *gates.anchor_counters()).write.format(
                    "noop"
                ).mode("overwrite").save()
            with t.span("plans.suite.verdicts_sink"):
                rows = F.collect_list(F.struct(*gates.VERDICT_COLS)).alias("rows")
                verdicts.observe(obs_v, rows).write.format("noop").mode("overwrite").save()
        res = PassResult(pass_id, time.perf_counter() - t0, True)
        self._end(res)
        res.verdicts = [tuple(r) for r in obs_v.get["rows"]]
        anchors = {
            k: v for k, v in self.expected.anchors().items() if k.split("/")[0] in checks
        }
        problems = gates.anchor_mismatches(anchors, obs_x.get)
        problems += gates.verdict_problems(
            res.verdicts, self.expected.partitions, checks, anchors
        )
        self._gate(res, tuple(checks), problems)
        return res

    # -- resume_tail ----------------------------------------------------------
    def seed_crashed_run(self, seed_dir: str) -> None:
        """Leave `seed_dir` as a run that crashed before its last commit:
        the first SEEDED_COMMITS slices committed through write_results.
        Their verdicts are passing placeholders; a resume reads only which
        partitions they cover, and the gate checks they come back
        unchanged, i.e. that the resume skipped them."""
        io = ParquetTableIO(seed_dir)
        for b in range(SEEDED_COMMITS):
            rows = placeholder_verdicts(self.expected.partitions, self.n_slices, {b})
            io.write_results(RUN_ID, self.spark.createDataFrame(rows, VERDICT_SCHEMA), None)

    def _instrument(self, io: ParquetTableIO) -> ParquetTableIO:
        t = self.tracer
        io.write_results = t.wrap("sources.tableio.write_results", io.write_results, record_result=True)
        io.compact = t.wrap("sources.tableio.compact", io.compact)
        io.completed_partitions = t.wrap(
            "sources.tableio.completed_partitions", io.completed_partitions
        )
        return io

    def resume_pass(self, pass_id: str, seed_dir: str) -> PassResult:
        """Resume a copy of the crashed run: ValidationSuite.run with
        ParquetTableIO, then read_verdicts + summarize(...).collect() (the
        jobs/validate.py path); an observation on the read-back returns its
        rows. The copy is made and removed untimed."""
        t = self.tracer
        d = os.path.join(self.work_dir, pass_id)
        shutil.copytree(seed_dir, d)
        before = dir_usage(d)
        io = self._instrument(ParquetTableIO(d))
        obs_v = Observation()
        self._begin(pass_id)
        t0 = time.perf_counter()
        with t.span("pass"):
            ref, cand = self._inputs()
            with t.span("plans.suite.run"):
                ValidationSuite(suite_config()).run(self.spark, ref, cand, io=io, run_id=RUN_ID)
            with t.span("sources.tableio.read_verdicts"):
                v = io.read_verdicts(self.spark, RUN_ID)
            with t.span("plans.suite.summarize"):
                rows = F.collect_list(F.struct(*gates.VERDICT_COLS)).alias("rows")
                summarize(v.observe(obs_v, rows)).collect()
        res = PassResult(pass_id, time.perf_counter() - t0, True)
        self._end(res)
        after = dir_usage(d)
        res.bytes_written = after[0] - before[0]
        res.files_written = after[1] - before[1]
        res.verdicts = [tuple(r) for r in obs_v.get["rows"]]

        # gate: committed slices untouched, the resumed slices complete and
        # matching their anchors
        seeded = set(range(SEEDED_COMMITS))
        resumed = set(range(self.n_slices)) - seeded
        plain = ParquetTableIO(d)
        observed = plain.read_violations(self.spark, RUN_ID).agg(*gates.anchor_counters()).first()
        anchors = self.expected.anchors(resumed)
        problems = gates.anchor_mismatches(anchors, observed.asDict())
        old = [r for r in res.verdicts if commit_slice(r[0], self.n_slices) in seeded]
        placeholders = placeholder_verdicts(self.expected.partitions, self.n_slices, seeded)
        if gates.verdict_diff(old, placeholders):
            problems.append("the resume changed verdicts of committed slices")
        new = [r for r in res.verdicts if commit_slice(r[0], self.n_slices) in resumed]
        new_parts = {
            p for p in self.expected.partitions if commit_slice(p, self.n_slices) in resumed
        }
        checks = [c for c in SUITE_CHECKS if c != "schema"]
        problems += gates.verdict_problems(new, new_parts, checks, anchors)
        self._gate(res, "resume", problems)
        if self.tracer.enabled:
            batches = plain.committed_batches(RUN_ID)[SEEDED_COMMITS:]
            res.new_partitions = self._new_partitions(d, batches)
        shutil.rmtree(d)
        return res

    def _new_partitions(self, results_dir: str, batches: list[str]) -> dict[str, int]:
        """Per batch this pass committed, how many partitions it verdicted
        that no earlier commit had."""
        done = {
            p for p in self.expected.partitions
            if commit_slice(p, self.n_slices) < SEEDED_COMMITS
        }
        out = {}
        for b in batches:
            p = os.path.join(results_dir, "verdicts", f"run={RUN_ID}", f"batch={b}")
            pids = {
                r.partition_id
                for r in self.spark.read.parquet(p)
                .filter(F.col("partition_id") >= 0)
                .select("partition_id")
                .distinct()
                .collect()
            }
            out[b] = len(pids - done)
            done |= pids
        return out
