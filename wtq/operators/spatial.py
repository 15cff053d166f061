"""Grid-cell bucketed spatial join — the reference's spatial-predicate
pattern without a geometry engine.

The reference's workhorse joins are ``st_intersects`` /
``st_dwithin``-style pairings (proccess_data.sql:148-172, :241-252) and
lateral KNN via the ``<->`` operator (proccess_data.sql:424-436).  The
scale-safe Spark expression of both is the same trick PostGIS's GiST
index plays: quantize space into cells sized to the search radius, pair
candidates through a CELL EQUI-JOIN (shuffle on uniform cell keys —
never a cross join), then apply the exact predicate inside the bucket.

Correctness argument: with cell size = radius r, two points within
distance r differ by at most r per axis, so their cell coordinates
differ by at most 1 — replicating one side to its 3×3 neighborhood
makes candidate recall EXACT.  The DuckDB oracle computes the naive
quadratic distance join, so the differential gate proves exactness,
not just self-consistency.

Scale notes (100 TB): each point emits ≤ 9 rows (one side only); the
join shuffles on (cx, cy) cells whose occupancy is bounded by data
density, not corpus size.  Hot cells (urban-density skew) are the
classic salting/AQE-skew-join case — the join is a plain equi-join so
both apply directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RADIUS = 2.0
GRID = 1000  # synthetic coordinates live in [0, 100)²


def synth_points(df: DataFrame, key: str, mult_x: int, mult_y: int) -> DataFrame:
    """Deterministic pseudo-coordinates from an integer key — exact
    integer arithmetic then one division, bit-identical across engines.
    """
    return df.select(
        F.col(key).alias("id"),
        ((F.col(key) * mult_x) % GRID / 10.0).alias("x"),
        ((F.col(key) * mult_y) % GRID / 10.0).alias("y"),
    )


def grid_radius_join(a: DataFrame, b: DataFrame) -> DataFrame:
    """All (a, b) pairs within RADIUS (Euclidean).  Columns:
    a_id, b_id, dist (rounded 4).  a is assigned to its own cell;
    b is replicated to its 3×3 cell neighborhood."""
    cell = lambda c: F.floor(c / RADIUS).cast("long")  # noqa: E731
    pa = a.select(
        F.col("id").alias("a_id"), F.col("x").alias("ax"), F.col("y").alias("ay"),
        cell(F.col("x")).alias("cx"), cell(F.col("y")).alias("cy"),
    )
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ])
    )
    pb = (
        b.select(
            F.col("id").alias("b_id"), F.col("x").alias("bx"), F.col("y").alias("by"),
            cell(F.col("x")).alias("bcx"), cell(F.col("y")).alias("bcy"),
        )
        .withColumn("o", off)
        .select(
            "b_id", "bx", "by",
            (F.col("bcx") + F.col("o.dx")).alias("cx"),
            (F.col("bcy") + F.col("o.dy")).alias("cy"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        pa.join(pb, ["cx", "cy"])
        .filter(d2 <= F.lit(RADIUS * RADIUS))
        .select("a_id", "b_id", F.round(F.sqrt(d2), 4).alias("dist"))
    )


def sql_grid_radius_join(
    a_table: str, a_key: str, a_mx: int, a_my: int,
    b_table: str, b_key: str, b_mx: int, b_my: int,
) -> str:
    """Naive quadratic oracle: distance filter over the cross join —
    independent of the grid trick, so a banding bug cannot self-confirm."""
    return f"""
    WITH pa AS (
      SELECT {a_key} AS a_id, ({a_key} * {a_mx}) % {GRID} / 10.0 AS x,
             ({a_key} * {a_my}) % {GRID} / 10.0 AS y FROM {a_table}
    ),
    pb AS (
      SELECT {b_key} AS b_id, ({b_key} * {b_mx}) % {GRID} / 10.0 AS x,
             ({b_key} * {b_my}) % {GRID} / 10.0 AS y FROM {b_table}
    )
    SELECT a_id, b_id,
           round(sqrt((pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y)), 4) AS dist
    FROM pa CROSS JOIN pb
    WHERE (pa.x - pb.x) * (pa.x - pb.x) + (pa.y - pb.y) * (pa.y - pb.y) <= {RADIUS * RADIUS}
    """
