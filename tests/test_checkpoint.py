"""truncate_lineage: localCheckpoint by default (intra-query dedup
must not leak reliable-checkpoint files — ADVICE r6), RELIABLE
checkpoint only for reliable=True call sites (graph.py's iterative
loops) when a checkpoint dir is configured.

The dir-configured case runs in a DEDICATED subprocess session instead
of mutating the shared session's checkpoint dir through the private
``checkpointDir_$eq`` Scala setter (version-brittle py4j plumbing —
ADVICE r6)."""

from __future__ import annotations

import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from virapipe_spark.scale import truncate_lineage


class TestTruncateLineage:
    def test_local_fallback_without_dir(self, spark):
        assert spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty()
        out = truncate_lineage(spark.range(10).withColumn("v", F.col("id") * 2))
        assert out.count() == 10

    def test_reliable_flag_is_local_without_dir(self, spark):
        # reliable=True degrades to localCheckpoint when no dir is set
        out = truncate_lineage(
            spark.range(5).withColumn("v", F.col("id") + 1), reliable=True
        )
        assert out.count() == 5

    def test_dir_configured_semantics_dedicated_session(self, tmp_path):
        """In a session WITH a checkpoint dir: the default
        (reliable=False) still localCheckpoints — no files appear under
        the dir, so intra-query dedup call sites cannot leak disk —
        while reliable=True writes reliable checkpoint files and BFS
        stays correct checkpointing every round."""
        script = textwrap.dedent(
            """
            import os, sys
            from pyspark.sql import SparkSession, functions as F
            from virapipe_spark.scale import truncate_lineage
            from virapipe_spark.graph import bfs_hops

            d = sys.argv[1]
            spark = (
                SparkSession.builder.master("local[2]")
                .appName("ckpt_dedicated")
                .config("spark.sql.shuffle.partitions", "2")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
            spark.sparkContext.setCheckpointDir(d)

            def files_under(d):
                return [
                    f
                    for root, _, files in os.walk(d)
                    for f in files
                    if not f.startswith(".")
                ]

            # default: intra-query dedup stays executor-local
            out = truncate_lineage(spark.range(20).withColumn("v", F.col("id") + 1))
            assert out.count() == 20
            assert not files_under(d), f"default leaked files: {files_under(d)}"

            # reliable=True: materializes under the dir
            out = truncate_lineage(
                spark.range(20).withColumn("v", F.col("id") * 2), reliable=True
            )
            assert out.count() == 20
            assert files_under(d), "no reliable checkpoint files written"

            # iterative loop correct under reliable checkpointing
            edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
            srcs = spark.createDataFrame([(0,)], ["node"])
            got = {
                r["node"]: r["dist"]
                for r in bfs_hops(edges, srcs, max_hops=3).collect()
            }
            assert got == {0: 0, 1: 1, 2: 2, 3: 3}, got
            spark.stop()
            print("CKPT_OK")
            """
        )
        proc = subprocess.run(
            [sys.executable, "-c", script, str(tmp_path / "ckpt")],
            capture_output=True,
            text=True,
            timeout=300,
            cwd="/root/repo",
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert "CKPT_OK" in proc.stdout
