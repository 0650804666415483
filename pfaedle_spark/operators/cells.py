"""Uniform-grid cell indexing — the H3/S2-cell analogue.

Reference: ``util/geo/Grid.h:87-153`` — insert a geometry into every
cell its bbox intersects; range query = union of cells covering a
padded bbox; cell id = (floor(x/w), floor(y/h)) (``Grid.h:269-280``).

Spark re-expression: cell membership is materialized as exploded rows
(``cell_id`` column) so the spatial radius join becomes a plain
equi-join that Catalyst can broadcast/shuffle/skew-handle. All math is
built-in column expressions (JVM-side, whole-stage codegen) — no UDFs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import constants as C


def cell_id_col(x: Column, y: Column) -> Column:
    return (
        F.floor(x / F.lit(C.CELL)).cast("long") * F.lit(C.CELL_STRIDE)
        + F.floor(y / F.lit(C.CELL)).cast("long")
    )


def tile_assign(points: DataFrame) -> DataFrame:
    """Point -> containing cell (the tile-assignment output of the north
    rule). One narrow projection; pushdown-friendly."""
    return points.withColumn("cell_id", cell_id_col(F.col("x"), F.col("y")))


def bbox_cells(
    df: DataFrame,
    xmin: Column,
    ymin: Column,
    xmax: Column,
    ymax: Column,
    pad: float = 0.0,
) -> DataFrame:
    """Explode each row into every cell its (padded) bbox intersects.

    Mirrors ``Grid::add`` (Grid.h:87-111) / ``Grid::get`` with padding
    (Grid.h:113-153). Uses ``sequence``+``explode`` — rows stay JVM-side.
    """
    p = F.lit(float(pad))
    ix0 = F.floor((xmin - p) / C.CELL).cast("long")
    ix1 = F.floor((xmax + p) / C.CELL).cast("long")
    iy0 = F.floor((ymin - p) / C.CELL).cast("long")
    iy1 = F.floor((ymax + p) / C.CELL).cast("long")
    return (
        df.withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
        .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
        .withColumn("cell_id", F.col("_ix") * F.lit(C.CELL_STRIDE) + F.col("_iy"))
        .drop("_ix", "_iy")
    )


def edge_cells(edges: DataFrame) -> DataFrame:
    """Edge -> covering cells membership table (the join key of J5).

    At 100 TB this table is written bucketed/partitioned by cell prefix
    so the candidate join prunes files (Iceberg partition pruning)."""
    e = bbox_cells(
        edges,
        F.least("x1", "x2"),
        F.least("y1", "y2"),
        F.greatest("x1", "x2"),
        F.greatest("y1", "y2"),
    )
    return e.select("cell_id", "edge_id", "src", "dst", "x1", "y1", "x2", "y2", "level", "oneway", "length")


def point_cells(points: DataFrame, radius: float) -> DataFrame:
    """Point -> cells within `radius` (padded range query, Grid.h:113-153)."""
    return bbox_cells(points, F.col("x"), F.col("y"), F.col("x"), F.col("y"), pad=radius)


# --------------------------------------------------------------------
# numpy twins for the driver-side graph kernels (same cell arithmetic)
# --------------------------------------------------------------------

def _ranks(counts: np.ndarray) -> np.ndarray:
    """0..c-1 for every count c, concatenated (the explode offsets)."""
    return np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)


def box_cells(xmin, ymin, xmax, ymax, pad: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """(row, cell_id) for every cell each padded box covers — the numpy
    twin of :func:`bbox_cells`."""
    ix0 = np.floor((xmin - pad) / C.CELL).astype(np.int64)
    ix1 = np.floor((xmax + pad) / C.CELL).astype(np.int64)
    iy0 = np.floor((ymin - pad) / C.CELL).astype(np.int64)
    iy1 = np.floor((ymax + pad) / C.CELL).astype(np.int64)
    ny = iy1 - iy0 + 1
    n = (ix1 - ix0 + 1) * ny
    row = np.repeat(np.arange(len(ix0)), n)
    k = _ranks(n)
    return row, (ix0[row] + k // ny[row]) * C.CELL_STRIDE + iy0[row] + k % ny[row]


def cell_pairs(a: tuple, b: tuple) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (a row, b row) pairs sharing a cell: the cell equi-join
    plus ``dropDuplicates`` over :func:`box_cells` outputs, O(pairs)."""
    (ra, ca), (rb, cb) = a, b
    order = np.argsort(cb, kind="stable")
    rb, cb = rb[order], cb[order]
    lo = np.searchsorted(cb, ca, "left")
    n = np.searchsorted(cb, ca, "right") - lo
    ia, ib = np.repeat(ra, n), rb[np.repeat(lo, n) + _ranks(n)]
    pairs = np.unique(np.stack([ia, ib], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]
