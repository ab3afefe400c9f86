"""Output gates applied to every benchmark pass.

Anchors: `benchgen.distort` hashes each reference turn to
m = pmod(xxhash64(conv_id, turn_idx), 1000) and drops the turn (m=0),
mutates its text (m=1) or replaces its role with one outside the
vocabulary (m=2). Counting those classes over the staged reference gives
exact expected violation counts, independent of the engine's checks; they
are kept per commit slice so a pass that computes only some slices (a
resume) is gated on exactly those.

Verdicts: a pass must return one row per (partition, check) of its
universe, and each violation check's rows must agree with the anchors.
Rows are compared per (partition_id, check_id) on
(passed, n_violations, score), with scores equal within 1e-9.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# violation (check_id, class) -> the distort class m that produces it
ANCHORS = {
    ("text_parity", "missing"): 0,
    ("text_parity", "mismatch"): 1,
    ("vocab_role", "invalid"): 2,
}
VIOLATION_CHECKS = ("uniqueness", "monotone_ts", "vocab_role", "vocab_tool", "text_parity")
VERDICT_COLS = ("partition_id", "check_id", "passed", "n_violations", "score")
SCORE_TOL = 1e-9


def anchor_name(check_id: str, cls: str) -> str:
    return f"{check_id}/{cls}"


def _sum_if(cond: Column) -> Column:
    return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))


@dataclass
class Expected:
    """What the staged pair implies: its partitions and, per commit slice,
    each anchor's violation count."""

    partitions: frozenset[int]
    anchors_by_slice: dict[int, dict[str, int]]

    def anchors(self, slices=None) -> dict[str, int]:
        out: dict[str, int] = {}
        for s, counts in self.anchors_by_slice.items():
            if slices is None or s in slices:
                for k, v in counts.items():
                    out[k] = out.get(k, 0) + v
        return out


def expected_counters(n_buckets: int, n_slices: int) -> list[Column]:
    """Aggregates over a reference snapshot from which `expected` builds
    an Expected; partitions hash conv_id as the suite does."""
    m = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(1000))
    pid = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    cols = [F.collect_set(pid).alias("partitions")]
    for k, v in ANCHORS.items():
        for s in range(n_slices):
            cond = (m == v) & (F.pmod(pid, F.lit(n_slices)) == s)
            cols.append(_sum_if(cond).alias(f"{anchor_name(*k)}@{s}"))
    return cols


def expected(row: dict) -> Expected:
    by_slice: dict[int, dict[str, int]] = {}
    for key, v in row.items():
        if "@" in key:
            name, s = key.split("@")
            by_slice.setdefault(int(s), {})[name] = int(v)
    return Expected(frozenset(row["partitions"]), by_slice)


def expected_anchors(ref: DataFrame, n_buckets: int = 32, n_slices: int = 4) -> Expected:
    return expected(ref.agg(*expected_counters(n_buckets, n_slices)).first().asDict())


def anchor_counters() -> list[Column]:
    """Aggregates over a violations frame counting each anchor's rows."""
    return [
        _sum_if((F.col("check_id") == c) & (F.col("class") == k)).alias(anchor_name(c, k))
        for c, k in ANCHORS
    ]


def anchor_mismatches(expected: dict[str, int], observed: dict[str, int]) -> list[str]:
    return [
        f"{k}: expected {v}, observed {observed.get(k)}"
        for k, v in expected.items()
        if observed.get(k) != v
    ]


def verdict_problems(
    rows: list[tuple], partitions, checks, anchors: dict[str, int]
) -> list[str]:
    """Rows must cover exactly partitions x checks (the schema check once,
    as partition -1), violation checks must pass iff they found nothing,
    and the anchored checks' counts must sum to their anchors (distort
    adds no rows, so text_parity has no 'added' violations)."""
    want = {(p, c) for p in partitions for c in checks if c != "schema"}
    if "schema" in checks:
        want.add((-1, "schema"))
    keys = [(r[0], r[1]) for r in rows]
    problems = []
    if len(keys) != len(set(keys)):
        problems.append(f"{len(keys) - len(set(keys))} duplicate verdict rows")
    if set(keys) != want:
        problems.append(
            f"verdict keys: {len(want - set(keys))} missing, {len(set(keys) - want)} unexpected"
        )
    bad = [r for r in rows if r[1] in VIOLATION_CHECKS and r[2] != (r[3] == 0)]
    if bad:
        problems.append(f"{len(bad)} violation verdicts disagree with their counts")
    sums: dict[str, int] = {}
    for r in rows:
        sums[r[1]] = sums.get(r[1], 0) + (r[3] or 0)
    for check in {c for c, _ in ANCHORS} & set(checks):
        want_n = sum(v for k, v in anchors.items() if k.startswith(check + "/"))
        if sums.get(check, 0) != want_n:
            problems.append(f"{check}: verdicts count {sums.get(check, 0)}, anchors {want_n}")
    return problems


def _same_score(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= SCORE_TOL


def verdict_diff(a: list[tuple], b: list[tuple]) -> int:
    """Number of (partition_id, check_id) keys whose verdicts differ,
    counting keys present on one side only."""
    da = {(r[0], r[1]): r[2:] for r in a}
    db = {(r[0], r[1]): r[2:] for r in b}
    n = len(da) + len(db) - 2 * len(da.keys() & db.keys())
    for k in da.keys() & db.keys():
        (pa, na, sa), (pb, nb, sb) = da[k], db[k]
        if pa != pb or na != nb or not _same_score(sa, sb):
            n += 1
    return n


def verdict_digest(rows: list[tuple]) -> str:
    """Short digest of a verdict table, scores rounded to 9 decimals; a
    record of what was checked, not the comparison itself."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: (r[0], r[1])):
        score = None if r[4] is None else round(r[4], 9)
        h.update(repr((r[0], r[1], r[2], r[3], score)).encode())
    return h.hexdigest()[:16]
