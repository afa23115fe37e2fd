"""The Morton (Z-order) coder behind ``zorder_layout_stats``."""

from __future__ import annotations

from pyspark.sql import functions as F

from convex_batch_processor_spark.queries.llm12 import morton_interleave


def test_morton_interleave_matches_python_reference(spark):
    """Bit-interleave spot check against a pure-python morton coder."""

    def py_morton(x, y, bits=8):
        c = 0
        for i in range(bits):
            c |= ((x >> i) & 1) << (2 * i + 1)
            c |= ((y >> i) & 1) << (2 * i)
        return c

    pts = [(0, 0), (255, 255), (1, 0), (0, 1), (170, 85), (200, 13)]
    df = spark.createDataFrame(pts, "x long, y long")
    z = morton_interleave(F.col("x"), F.col("y")).alias("z")
    got = {(r.x, r.y): r.z for r in df.select("x", "y", z).collect()}
    for x, y in pts:
        assert got[(x, y)] == py_morton(x, y)
