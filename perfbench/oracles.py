"""Expected outputs, evaluated in DuckDB from the synthetic tables' closed
forms (``geedim_spark.synth.sql_images`` / ``sql_rois``) so that no expected
value comes from the engine under test."""

from __future__ import annotations

import duckdb
import pandas as pd

from geedim_spark import synth

# Cloudless strip width per mask family for the 40 px catalogue: MOCK rows
# have no cloud support; S2 rows carry QA60, invalid up to 2024-02-01, and
# their cloud strip grows by the open(2 px) + dilate(5 px) morphology;
# Landsat rows lose exactly their c_px cloud strip.
_QA_OK = "time_start > TIMESTAMP '2024-02-01'"
_CLOUDLESS_W = f"""
  CASE WHEN collection = 'MOCK/CONST' THEN w - f_px
       WHEN collection = 'COPERNICUS/S2_SR_HARMONIZED' AND NOT ({_QA_OK}) THEN 0
       WHEN collection = 'COPERNICUS/S2_SR_HARMONIZED'
         THEN w - f_px - (CASE WHEN ({_QA_OK}) AND c_px > 2 THEN c_px + 3 ELSE 0 END)
       ELSE w - f_px - c_px END"""
_INTERSECTS = "x0 <= rx1 AND x1 >= rx0 AND y0 <= ry1 AND y1 >= ry0"


def connect() -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": 2})


def matched_raw_images(con, n: int, px: int, rois: pd.DataFrame) -> list[str]:
    """Raw-format images whose footprint meets any ROI (bbox predicate)."""
    con.register("tile_rois", rois)
    rows = con.execute(f"""
        WITH images AS ({synth.sql_images(n, px, px)})
        SELECT image_id FROM images
        WHERE fmt = 'raw' AND EXISTS (
          SELECT 1 FROM tile_rois WHERE {_INTERSECTS})
        ORDER BY image_id""").fetchall()
    con.unregister("tile_rois")
    return [r[0] for r in rows]


class Catalogue:
    """The 40 px catalogue and its ROI table, materialised once in DuckDB."""

    def __init__(self, con, n: int, m: int) -> None:
        self.con = con
        con.execute(f"CREATE TABLE images AS {synth.sql_images(n)}")
        con.execute(f"CREATE TABLE rois AS {synth.sql_rois(m)}")

    def search(self, start: str, end: str, roi_js: list[int], cc: int,
               cloudless: float) -> list[str]:
        """collection_ops.search with a date window, ROI subset,
        CLOUD_COVER filter and cloudless portion, in capture-time order."""
        js = ",".join(map(str, roi_js))
        return [r[0] for r in self.con.execute(f"""
            SELECT image_id FROM images
            WHERE fmt = 'raw'
              AND time_start >= TIMESTAMP '{start}' AND time_start < TIMESTAMP '{end}'
              AND cloud_cover <= {cc}
              AND EXISTS (SELECT 1 FROM rois WHERE j IN ({js}) AND {_INTERSECTS})
              AND 100.0 * ({_CLOUDLESS_W}) / (w - f_px) >= {cloudless}
            ORDER BY time_start""").fetchall()]

    def coverage(self, start: str, end: str, roi_js: list[int]) -> dict:
        """roi_id -> (images met, distinct capture months) in the window."""
        js = ",".join(map(str, roi_js))
        rows = self.con.execute(f"""
            SELECT roi_id, COUNT(*), COUNT(DISTINCT date_trunc('month', time_start))
            FROM images JOIN rois ON {_INTERSECTS}
            WHERE j IN ({js})
              AND time_start >= TIMESTAMP '{start}' AND time_start < TIMESTAMP '{end}'
            GROUP BY roi_id""").fetchall()
        return {r[0]: (r[1], r[2]) for r in rows}

    def mean_profile(self, lo: int, hi: int) -> list[float]:
        """Band-0 mean composite of the MOCK raw images with lo <= i < hi,
        per pixel column: the mean of v over images whose fill strip
        (the left f_px columns) leaves that column valid."""
        rows = self.con.execute(f"""
            SELECT x, AVG(v) FROM images, range(40) t(x)
            WHERE i >= {lo} AND i < {hi} AND i % 3 = 0 AND fmt = 'raw'
              AND x >= f_px
            GROUP BY x ORDER BY x""").fetchall()
        return [r[1] for r in rows]


def skew_cells(con, lo: int, rows: int, hot_tenths: int) -> dict:
    """cell -> (joined rows, sum of v * weight) for the planted hot-cell
    input: 4 dim rows per cell with weights 4*cell + 0..3."""
    res = con.execute(f"""
        SELECT cell, 4 * COUNT(*), SUM(v) * (16 * cell + 6) FROM (
          SELECT CASE WHEN range % 10 < {hot_tenths} THEN 0
                      ELSE 1 + range % 97 END AS cell,
                 range % 1000 AS v
          FROM range({lo}, {lo + rows}))
        GROUP BY cell""").fetchall()
    return {int(c): (int(n), int(s)) for c, n, s in res}
