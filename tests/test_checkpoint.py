"""Snapshot-checkpoint resume, lineage, metrics, --py-files packaging."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.checkpoint import Pipeline, Stage, build_pyfiles_zip
from whitebox_tools_spark.operators import tiling
from whitebox_tools_spark.sources.tables import documents

SF_DIR = "/root/testdata/sf0.001"


def _stages():
    def s_derive(spark, inputs):
        return derive.with_geometry(documents(spark, SF_DIR), "doc_id").select(
            "doc_id", "x", "y", "z"
        )

    def s_tile(spark, inputs):
        return tiling.lidar_tile(inputs["derive"], min_points=2)

    return [
        Stage("derive", s_derive, inputs=[], key_cols=["doc_id"]),
        Stage("tile", s_tile, inputs=["derive"], key_cols=["doc_id", "tile"]),
    ]


class TestPipelineResume:
    def test_run_resume_invalidate(self, spark, tmp_path):
        root = str(tmp_path / "ckpt")
        p = Pipeline(root, _stages())

        out1, executed1 = p.run(spark)
        assert executed1 == ["derive", "tile"]
        n1 = out1.count()

        # full resume: nothing recomputes
        out2, executed2 = p.run(spark)
        assert executed2 == []
        assert out2.count() == n1

        # version bump on the first stage invalidates everything downstream
        stages = _stages()
        stages[0].version = "2"
        p3 = Pipeline(root, stages)
        _out3, executed3 = p3.run(spark)
        assert executed3 == ["derive", "tile"]

        # bumping only the last stage recomputes only it
        stages = _stages()
        stages[0].version = "2"
        stages[1].version = "2"
        p4 = Pipeline(root, stages)
        _out4, executed4 = p4.run(spark)
        assert executed4 == ["tile"]

    def test_lineage_and_metrics(self, spark, tmp_path):
        root = str(tmp_path / "ckpt2")
        p = Pipeline(root, _stages())
        out, _ = p.run(spark)

        lin = p.lineage()
        assert [e["stage"] for e in lin] == ["derive", "tile"]
        assert lin[1]["inputs"]["derive"] == lin[0]["fingerprint"]
        assert lin[1]["rows"] == out.count()

        m = p.metrics(spark, "tile")
        assert m.agg(F.sum("rows")).collect()[0][0] == out.count()
        assert {"partition_id", "rows", "min_doc_id", "max_doc_id", "min_tile", "max_tile"} <= set(
            m.columns
        )


class TestPackaging:
    def test_pyfiles_zip_importable(self, tmp_path):
        zp = build_pyfiles_zip(str(tmp_path / "pkg.zip"))
        assert os.path.exists(zp)
        code = (
            "import sys; sys.path.insert(0, sys.argv[1]); "
            "import whitebox_tools_spark.api as a; "
            "print(len(a.QUERIES))"
        )
        r = subprocess.run(
            [sys.executable, "-c", code, zp], capture_output=True, text=True, check=True
        )
        assert int(r.stdout.strip()) > 30


class TestCheckpointNostats:
    def test_pointer_jump_stats_stay_bounded(self, spark):
        """Dataset.localCheckpoint preserves the child's sizeInBytes
        estimate; a pointer-jumping self-join SQUARES it every round, so
        by ~16 rounds Catalyst stats arithmetic multiplies million-bit
        BigIntegers on the driver (exponential per-round slowdown).
        checkpoint_nostats must keep the estimate bounded."""
        from pyspark.sql import functions as F

        from whitebox_tools_spark.operators.fixpoint import checkpoint_nostats

        df = checkpoint_nostats(
            spark.range(100).select(F.col("id").alias("node"), F.col("id").alias("comp"))
        )
        for _ in range(12):
            parent = df.select(
                F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
            )
            nxt = df.join(parent, df.comp == parent.p_node, "left").select(
                "node", F.coalesce("p_comp", "comp").alias("comp")
            )
            df = checkpoint_nostats(nxt)
            bits = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            ).bit_length()
            assert bits <= 64, f"stats estimate grew to {bits} bits"
        assert df.count() == 100


def test_torn_manifest_recomputes_instead_of_crashing(spark, tmp_path):
    # a crash mid-manifest-write must read as "stage incomplete", not
    # blow up resume with a JSONDecodeError
    from whitebox_tools_spark.checkpoint import MANIFEST, Pipeline, Stage

    root = str(tmp_path / "pipe")
    stages = [Stage("a", lambda sp, _: sp.range(5).selectExpr("id AS k"),
                    key_cols=["k"])]
    p = Pipeline(root, stages)
    _, ex1 = p.run(spark)
    assert ex1 == ["a"]
    # tear the manifest (truncated JSON)
    mp = f"{root}/a/{MANIFEST}"
    with open(mp, "w") as f:
        f.write('{"stage": "a", "finge')
    assert p.read_manifest("a") is None
    out, ex2 = p.run(spark)
    assert ex2 == ["a"]          # recomputed, not resumed
    assert out.count() == 5
    # and the rewritten manifest resumes cleanly again
    _, ex3 = p.run(spark)
    assert ex3 == []
