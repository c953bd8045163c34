"""SparkSession builder tuned for this engine.

Local-mode defaults follow the driver contract (``local[$SPARK_GRAFT_CPUS]``),
but every knob here is chosen for the 1000-executor / 100 TB design point:
AQE on (runtime skew-join + partition coalescing), shuffle partitions sized
to cores locally (set to ~2-3x total cores on a real cluster), Arrow enabled
for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "rust_triplets_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # preferSortMergeJoin stays at its DEFAULT (true). r12 flipped it to
        # false on guide §3.1's general advice but shipped it unmeasured on
        # the heavy dedup/decontam tier; r13 measured it (guide §1): at
        # sf0.1/local[32] fuzzy_decontamination min-of-3 is 9.1 s with SMJ
        # vs 15.7 s with SHJ allowed (and far noisier: 41/116/16 s passes),
        # because the banded self-joins build per-partition hash tables of
        # the exploded signature frame — a build side that SMJ instead
        # streams with a spillable sort. SHJ also cannot spill its build
        # side, the exact 100 TB OOM profile the r12 advice flagged.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g, NOT "most of the box": G1 grows toward the ceiling before
        # collecting, so a 90g ceiling on a 128 GiB box let the old gen
        # balloon and every allocation-heavy query paid multi-second mixed
        # collections (guide §5 — measured r12: fuzzy_decontamination min-of-3
        # at sf0.1 was 46.8 s @90g / 26.9 s @48g / 12.2 s @24g / ~10-12 s
        # @8-16g; flat below 24g). sf0.1 needs well under 4g; sf1 campaigns
        # can raise via SPARK_GRAFT_DRIVER_MEM. On a real cluster executor
        # memory is sized separately per §5 — this default is local-mode only.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
