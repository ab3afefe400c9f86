"""Seeded snapshot pair for the benchmark.

Builds on the engine's public generator (`benchgen.make_transcripts` and
`benchgen.distort`) and remaps every `conv_id` through a seed-keyed hash.
The seed therefore moves the hot conversation's id, the rows `distort`
selects (it hashes `(conv_id, turn_idx)`) and each conversation's
partition (the suite hashes `conv_id`). The remapped id keeps the original
id as a suffix, so the remap is one-to-one.

The pair is staged as conversation-clustered parquet in the layout of
`benchgen.stage_pair`; the engine only ever sees the staged files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ssimulacra2_spark.benchgen import distort, make_transcripts

from .gates import Expected, expected, expected_counters


def seeded_transcripts(spark: SparkSession, n_turns: int, n_convs: int, seed: int) -> DataFrame:
    t = make_transcripts(spark, n_turns, n_convs)
    key = F.lpad(F.hex(F.xxhash64("conv_id", F.lit(seed))), 16, "0")
    return t.withColumn("conv_id", F.concat(key, F.lit("-"), F.col("conv_id")))


def stage(
    spark: SparkSession,
    n_turns: int,
    n_convs: int,
    seed: int,
    base_dir: str,
    n_buckets: int,
    n_slices: int,
) -> tuple[str, str, Expected]:
    """Write (ref, cand) under `base_dir`. Returns their paths and what the
    pair implies for the gates, observed on the staged reference while the
    candidate is derived from it (no extra scan)."""
    ref_path, cand_path = f"{base_dir}/ref", f"{base_dir}/cand"
    par = spark.sparkContext.defaultParallelism
    chunk = max(1024, n_turns // (4 * par))
    (
        seeded_transcripts(spark, n_turns, n_convs, seed)
        .repartition(par, "conv_id", F.floor(F.col("turn_idx") / F.lit(chunk)))
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .parquet(ref_path)
    )
    obs = Observation()
    ref = spark.read.parquet(ref_path).observe(obs, *expected_counters(n_buckets, n_slices))
    distort(ref).write.mode("overwrite").parquet(cand_path)
    return ref_path, cand_path, expected(obs.get)
