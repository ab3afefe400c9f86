"""Output gates of the benchmark: verdict comparison and the anchor counts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.gates import Expected, verdict_diff, verdict_digest, verdict_problems
from perfbench.workloads import commit_slice, placeholder_verdicts


def rows(score=0.5):
    return [
        (-1, "schema", True, 0, None),
        (0, "text_parity", False, 3, None),
        (0, "drift_score", True, 0, score),
        (1, "drift_score", True, 0, 0.25),
    ]


def test_verdict_diff_equal_and_within_tolerance():
    assert verdict_diff(rows(), rows()) == 0
    assert verdict_diff(rows(), list(reversed(rows()))) == 0
    assert verdict_diff(rows(0.5), rows(0.5 + 5e-10)) == 0


def test_verdict_diff_counts_each_differing_key():
    assert verdict_diff(rows(0.5), rows(0.5 + 1e-6)) == 1
    changed = rows()
    changed[1] = (0, "text_parity", False, 4, None)
    assert verdict_diff(rows(), changed) == 1
    assert verdict_diff(rows(), rows()[:-1]) == 1
    assert verdict_diff(rows()[:2], rows()[2:]) == 4
    none_vs_zero = rows()
    none_vs_zero[0] = (-1, "schema", True, 0, 0.0)
    assert verdict_diff(rows(), none_vs_zero) == 1


def test_verdict_digest_ignores_order_and_tiny_score_noise():
    assert verdict_digest(rows()) == verdict_digest(list(reversed(rows())))
    assert verdict_digest(rows(0.5)) == verdict_digest(rows(0.5 + 1e-12))
    assert verdict_digest(rows(0.5)) != verdict_digest(rows(0.6))


def test_commit_slice_puts_schema_verdict_in_slice_zero():
    assert commit_slice(-1, 4) == 0
    assert [commit_slice(p, 4) for p in range(6)] == [0, 1, 2, 3, 0, 1]


def test_expected_sums_anchors_over_slices():
    e = Expected(
        frozenset({0, 1}),
        {0: {"text_parity/missing": 2, "vocab_role/invalid": 1},
         1: {"text_parity/missing": 3, "vocab_role/invalid": 0}},
    )
    assert e.anchors() == {"text_parity/missing": 5, "vocab_role/invalid": 1}
    assert e.anchors({1}) == {"text_parity/missing": 3, "vocab_role/invalid": 0}


def test_verdict_problems():
    checks = ("schema", "vocab_role", "text_parity", "drift_score")
    anchors = {"vocab_role/invalid": 1, "text_parity/missing": 2, "text_parity/mismatch": 1}
    good = [
        (-1, "schema", True, 0, None),
        (0, "vocab_role", False, 1, None), (1, "vocab_role", True, 0, None),
        (0, "text_parity", False, 1, None), (1, "text_parity", False, 2, None),
        (0, "drift_score", True, 0, 0.9), (1, "drift_score", True, 0, 0.8),
    ]
    assert verdict_problems(good, {0, 1}, checks, anchors) == []
    assert verdict_problems(good[1:], {0, 1}, checks, anchors)  # schema row missing
    assert verdict_problems(good + good[-1:], {0, 1}, checks, anchors)  # duplicate
    assert verdict_problems(good, {0, 1, 2}, checks, anchors)  # partition 2 missing
    wrong_flag = good[:1] + [(0, "vocab_role", True, 1, None)] + good[2:]
    assert verdict_problems(wrong_flag, {0, 1}, checks, anchors)
    off_by_one = good[:4] + [(1, "text_parity", False, 3, None)] + good[5:]
    assert verdict_problems(off_by_one, {0, 1}, checks, anchors)


def test_placeholders_cover_the_seeded_slices():
    rows = placeholder_verdicts({0, 1, 2, 3, 4, 5}, 4, {0, 1})
    assert (-1, "schema", True, 0, None) in rows
    assert {r[0] for r in rows} == {-1, 0, 1, 4, 5}
    assert len(rows) == 1 + 4 * 11
    assert placeholder_verdicts({0, 1}, 4, {1}) == [
        (1, c, True, 0, None) for c in (
            "min_rows", "row_parity", "uniqueness", "monotone_ts", "vocab_role",
            "vocab_tool", "text_parity", "column_stats", "psi_ks", "emb_drift",
            "drift_score",
        )
    ]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_anchors_match_the_distorted_pair(spark):
    """The anchor counts from the reference equal what distort actually
    did to the candidate, measured by comparing the two tables."""
    from pyspark.sql import functions as F

    from perfbench.gates import expected_anchors
    from perfbench.gen import seeded_transcripts
    from ssimulacra2_spark.benchgen import distort
    from ssimulacra2_spark.config import DEFAULT_ROLES

    ref = seeded_transcripts(spark, 20_000, 200, seed=7).cache()
    cand = distort(ref).cache()
    keys = ["conv_id", "turn_idx"]
    missing = ref.join(cand, keys, "left_anti").count()
    joined = ref.alias("r").join(cand.alias("c"), keys)
    mismatch = joined.filter(F.col("r.text") != F.col("c.text")).count()
    invalid = cand.filter(~F.col("role").isin(*DEFAULT_ROLES)).count()

    got = expected_anchors(ref)
    assert got.anchors() == {
        "text_parity/missing": missing,
        "text_parity/mismatch": mismatch,
        "vocab_role/invalid": invalid,
    }
    assert min(got.anchors().values()) > 0
    assert got.partitions == frozenset(range(32))

    # per slice: the rows of the partitions in slice 3 only
    pid = F.pmod(F.xxhash64("conv_id"), F.lit(32))
    in3 = F.pmod(pid, F.lit(4)) == 3
    assert got.anchors({3})["text_parity/missing"] == (
        ref.filter(in3).join(cand, keys, "left_anti").count()
    )


def test_seed_moves_ids_and_distorted_rows(spark):
    from perfbench.gates import expected_anchors
    from perfbench.gen import seeded_transcripts

    a = seeded_transcripts(spark, 20_000, 200, seed=1)
    b = seeded_transcripts(spark, 20_000, 200, seed=2)
    ids_a = {r.conv_id for r in a.select("conv_id").distinct().collect()}
    ids_b = {r.conv_id for r in b.select("conv_id").distinct().collect()}
    assert len(ids_a) == len(ids_b) == 200  # the remap is one-to-one
    assert not ids_a & ids_b
    assert expected_anchors(a).anchors_by_slice != expected_anchors(b).anchors_by_slice
    again = seeded_transcripts(spark, 20_000, 200, seed=1)
    assert expected_anchors(a) == expected_anchors(again)
