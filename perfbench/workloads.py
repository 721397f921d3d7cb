"""The two workloads, and the skew probe of catalog_queries' traced run.
Each workload is a closed loop with one client: the next request is sent
when the previous one has returned and been checked.

A workload object is built from the seed and goes through
``stage`` (untimed, cached inputs) -> ``expect`` (DuckDB expected outputs,
untimed) -> ``register`` (part of set-up, once per session) -> ``unit``
(one timed unit of client work, checked; the first ``warm_units`` of a run
are checked but not timed) and, in a traced run, ``trace``.

The engine is driven only through ``geedim_spark``'s public functions.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geedim_spark import codecs, synth
from geedim_spark.operators import (collection_ops, composite, masks, pipeline,
                                    spatial_join, tiler)

import eventlog
import harness
import oracles

EXPECTED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")


@dataclass
class Request:
    """One client request: its latency, whether its output was right, and
    the (untimed) seconds its check took."""

    kind: str
    seconds: float
    ok: bool
    reason: str = ""
    check_s: float = 0.0


def _timed(spark, group: str, fn):
    """Run ``fn()`` tagged with a job group; -> (seconds, result, retries)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        out = fn()
        secs = time.perf_counter() - t0
    finally:
        sc.setJobGroup("untagged", "untagged")
    return secs, out, harness.retried_tasks(spark, group)


def _request(spark, kind: str, group: str, fn, check) -> Request:
    """Time ``fn``, then check its output outside the timed region.  A
    raised exception, a task retry or a wrong output fails the request."""
    t0 = time.perf_counter()
    try:
        secs, out, retries = _timed(spark, group, fn)
    except Exception as e:  # the client saw a failed request; keep going
        return Request(kind, time.perf_counter() - t0, False,
                       f"{kind}: {type(e).__name__}: {e}")
    if retries:
        return Request(kind, secs, False, f"{kind}: {retries} task retries")
    t1 = time.perf_counter()
    reason = check(out)
    return Request(kind, secs, not reason, reason or "",
                   time.perf_counter() - t1)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    work_unit = ""          # what ``throughput`` counts
    min_requests = 1        # per timed phase
    requests_per_unit = 1
    warm_units = 0          # untimed units between the set-ups and timing
    SESSION_CONF: dict = {}  # confs this workload adds to its sessions

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.sink = os.path.join(harness.work_dir("sink"), f"{self.name}-{seed}")
        self.staging_s = 0.0
        self.trace_requests: list[Request] = []  # checked steps of ``trace``

    def stage(self, spark) -> None:
        pass

    def expect(self) -> None:
        pass

    def register(self, spark) -> None:
        raise NotImplementedError

    def unit(self, spark, k: int, tag: str | None = None
             ) -> tuple[list[Request], int]:
        """One timed unit, its actions tagged ``tag`` (default ``run-<k>``)
        -> (requests, work items done)."""
        raise NotImplementedError

    def warm_up(self, spark, k: int) -> list[Request]:
        """The untimed warm-up run of one set-up."""
        return self.unit(spark, k, tag=f"warm-{k}")[0]

    def trace(self, spark, reps: int) -> tuple[list[float], dict]:
        """Traced steps -> (traced run seconds, per-layer metrics that need
        driver-side counts); every action is tagged ``run-*`` for the timed
        unit and otherwise by layer.  Steps whose output is checked append
        their ``Request`` to ``trace_requests``."""
        raise NotImplementedError

    def layers(self, folded: dict, driver: dict, reps: int) -> dict:
        return driver


def _stage_parquet(spark, path: str, make) -> float:
    """Write ``make()`` to ``path`` once; -> seconds spent (0 if cached)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return 0.0
    t0 = time.perf_counter()
    make().write.mode("overwrite").option("compression", "none").parquet(path)
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# tile_export — the headline job
# ---------------------------------------------------------------------------

class TileExport(Workload):
    """Scan of staged 192x192 2-band images -> ROI cell-cover semi-join ->
    fused mask/EDT/tile kernel with the headline arguments -> parquet."""

    name = "tile_export"
    work_unit = "tiles"
    N_IMAGES = 1600
    PX = 192
    GRID = 10  # the seed picks half of a GRID x GRID ROI grid
    # ...a half whose matched raw-image count is within MATCH_TOL of
    # MATCH_TARGET, so that every seed exports the same amount of work
    MATCH_TARGET = 712
    MATCH_TOL = 4
    TILES_PER_IMAGE = 32  # 2 bands x 4 x 4 tiles of 48 px
    # a new session's export times fall by ~25% over its first five runs;
    # the three set-ups' warm-ups cover most of that, these the rest
    warm_units = 2
    KERNEL_ARGS = dict(scale=synth.SCALE, dist_decimate=6, focal_open_px=2,
                       focal_dilate_px=5, max_tile_dim=48, max_tile_bands=1)
    DIGEST_COLS = ["image_id", "band_start", "band_stop", "row_start",
                   "row_stop", "col_start", "col_stop", "fill_px",
                   "cloudless_px", "dist_sum", "tile_bytes"]

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.images_path = os.path.join(
            harness.work_dir("stage"),
            f"tiles_n{self.N_IMAGES}_px{self.PX}_{synth.recipe_hash()}")

    def _grid_rois(self, cells) -> pd.DataFrame:
        ext = self.PX * synth.SCALE
        cw, ch = (99000 + ext) / self.GRID, (90000 + ext) / self.GRID
        gx, gy = cells % self.GRID, cells // self.GRID
        return pd.DataFrame({
            "roi_id": [f"ROI/{c:04d}" for c in cells],
            "rx0": gx * cw, "ry0": gy * ch,
            "rx1": gx * cw + cw * 0.999, "ry1": gy * ch + ch * 0.999,
        })

    def stage(self, spark) -> None:
        self.staging_s = _stage_parquet(
            spark, self.images_path,
            lambda: synth.images_df(spark, self.N_IMAGES, w=self.PX, h=self.PX)
            .repartition(16))

    def expect(self) -> None:
        """Pick the seeded ROI half (the first seeded draw within the
        match tolerance; the closest of 200 draws otherwise) and the
        expected tile count and digest for it."""
        with open(os.path.join(EXPECTED_DIR, "tile_digests.json")) as f:
            digests = json.load(f)
        rng = np.random.default_rng(self.seed)
        con = oracles.connect()
        best = None
        for _ in range(200):
            cells = np.sort(rng.permutation(self.GRID ** 2)[: self.GRID ** 2 // 2])
            rois = self._grid_rois(cells)
            matched = oracles.matched_raw_images(con, self.N_IMAGES, self.PX, rois)
            miss = abs(len(matched) - self.MATCH_TARGET)
            if best is None or miss < best[0]:
                best = miss, rois, matched
            if miss <= self.MATCH_TOL:
                break
        con.close()
        _, self.rois_pdf, self.matched = best
        self.expected_tiles = self.TILES_PER_IMAGE * len(self.matched)
        self.expected_digest = sum(int(digests[i]) for i in self.matched) % (1 << 64)

    def register(self, spark) -> None:
        self.rois = spark.createDataFrame(self.rois_pdf)

    def _frames(self, spark):
        images = spark.read.parquet(self.images_path).filter("fmt = 'raw'")
        matched = spatial_join.filter_bounds_semi(images, self.rois)
        tiles = pipeline.mask_and_tile(matched, **self.KERNEL_ARGS)
        return images, matched, tiles

    def _export(self, spark) -> None:
        _, _, tiles = self._frames(spark)
        tiles.write.mode("overwrite").parquet(self.sink)

    @classmethod
    def digest_frame(cls, tiles):
        """Order-insensitive digest: sum of per-tile xxhash64 as a decimal
        (exact; reduced mod 2^64 on the driver)."""
        return tiles.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cls.DIGEST_COLS).cast("decimal(38,0)")).alias("d"))

    def _check(self, spark, digest: bool) -> str:
        if digest:
            row = self.digest_frame(spark.read.parquet(self.sink)).first()
            n, d = row["n"], int(row["d"] or 0) % (1 << 64)
        else:
            n = sum(pq.read_metadata(os.path.join(self.sink, f)).num_rows
                    for f in os.listdir(self.sink) if f.endswith(".parquet"))
            d = self.expected_digest
        if n != self.expected_tiles:
            return f"tile_export: {n} tiles, expected {self.expected_tiles}"
        if d != self.expected_digest:
            return "tile_export: tile digest differs from the recorded one"
        return ""

    def unit(self, spark, k, tag=None, digest=True):
        req = _request(spark, "export", tag or f"run-{k}", lambda: self._export(spark),
                       lambda _: self._check(spark, digest))
        harness.remove_tree(self.sink)
        return [req], self.expected_tiles

    def warm_up(self, spark, k):
        # the tile count only: the full digest check runs on every timed unit
        return self.unit(spark, k, tag=f"warm-{k}", digest=False)[0]

    def trace(self, spark, reps):
        # each prefix plans its frames afresh, as the timed unit does
        prefixes = {
            "p1-scan": lambda: _noop(self._frames(spark)[0]),
            "p2-join": lambda: _noop(self._frames(spark)[1]),
            "p3-kernel": lambda: _noop(self._frames(spark)[2]),
            "run": lambda: self._export(spark),
        }
        secs = {p: [] for p in prefixes}
        for r in range(reps):
            for p, fn in prefixes.items():
                secs[p].append(_timed(spark, f"{p}-{r}", fn)[0])
            harness.remove_tree(self.sink)
        med = {p: harness.median(v) for p, v in secs.items()}
        out = {
            "scan.self_s": med["p1-scan"],
            "spatial_join.self_s": med["p2-join"] - med["p1-scan"],
            "pipeline.self_s": med["p3-kernel"] - med["p2-join"],
            "sink.self_s": med["run"] - med["p3-kernel"],
        }
        out.update(_join_counts(spark, self._frames(spark)[0], self.rois))
        out.update(self._micro(spark))
        return secs["run"], out

    def _micro(self, spark) -> dict:
        """Driver micro-timing of the kernel's steps, with the pipeline's
        arguments, over a seeded sample of the matched staged images."""
        rng = np.random.default_rng(self.seed)
        sample = set(rng.choice(self.matched, size=min(48, len(self.matched)),
                                replace=False))
        table = pq.read_table(
            self.images_path,
            columns=["image_id", "bytes", "collection", "time_start"],
            filters=[("image_id", "in", sorted(sample))])
        a = self.KERNEL_ARGS
        t = {k: 0.0 for k in ("decode", "masks", "focal", "dist", "shape", "encode")}
        n_img = n_tiles = skipped = 0
        shape_calls = 0
        for row in table.to_pylist():
            t0 = time.perf_counter()
            px = codecs.decode(row["bytes"])
            t1 = time.perf_counter()
            names = masks.band_names_for(row["collection"])
            bands = {nm: px[i] for i, nm in enumerate(names[: px.shape[0]])}
            m = masks.masks_for(row["collection"], bands,
                                time_start=row["time_start"], scale=a["scale"])
            t2 = time.perf_counter()
            cl = m["CLOUDLESS_MASK"]
            cloudy = ~cl & m["FILL_MASK"]
            if masks._sensor_for(row["collection"]) != "s2" and cloudy.any():
                cloudy = masks.focal_max(masks.focal_min(cloudy, a["focal_open_px"]),
                                         a["focal_dilate_px"])
                cl = ~cloudy & m["FILL_MASK"]
            else:
                skipped += 1
            t3 = time.perf_counter()
            dd = a["dist_decimate"]
            masks.cloud_dist(cl[::dd, ::dd], a["scale"] * dd, 5000.0,
                             fill=m["FILL_MASK"][::dd, ::dd])
            t4 = time.perf_counter()
            tb, th, tw = tiler.tile_shape(px.shape[0], px.shape[1], px.shape[2],
                                          px.dtype.name, 4, a["max_tile_dim"],
                                          a["max_tile_bands"])
            shape_calls += 1
            t5 = time.perf_counter()
            for b0 in range(0, px.shape[0], tb):
                for r0 in range(0, px.shape[1], th):
                    for c0 in range(0, px.shape[2], tw):
                        codecs.encode_raw(px[b0:b0 + tb, r0:r0 + th, c0:c0 + tw])
                        n_tiles += 1
            t6 = time.perf_counter()
            for k, (s, e) in zip(t, ((t0, t1), (t1, t2), (t2, t3), (t3, t4),
                                     (t4, t5), (t5, t6))):
                t[k] += e - s
            n_img += 1
        self.compute_s_per_image = sum(t.values()) / n_img
        return {
            "codecs.decode_ms_per_image": 1e3 * t["decode"] / n_img,
            "codecs.encode_ms_per_tile": 1e3 * t["encode"] / n_tiles,
            "masks.masks_for_ms": 1e3 * t["masks"] / n_img,
            "masks.focal_ms": 1e3 * t["focal"] / n_img,
            "masks.cloud_dist_ms": 1e3 * t["dist"] / n_img,
            "masks.morph_skip_ratio": skipped / n_img,
            "tiler.tiles_per_image": n_tiles / n_img,
            "tiler.tile_shape_us": 1e6 * t["shape"] / shape_calls,
        }

    def layers(self, folded, driver, reps):
        p1 = eventlog.total(folded, "p1-scan")
        p2 = eventlog.total(folded, "p2-join")
        p3 = eventlog.total(folded, "p3-kernel")
        run = eventlog.total(folded, "run")
        kernel_exec_s = (p3["run_ms"] - p2["run_ms"]) / 1e3 / reps
        compute_s = self.compute_s_per_image * len(self.matched)
        return driver | {
            "scan.bytes_read": p1["files_read_bytes"] / reps,
            "scan.rows_read": p1["input_records"] / reps,
            "scan.passes": 1.0,
            "arrow.overhead_s": kernel_exec_s - compute_s,
            "sink.bytes_written": run["written_bytes"] / reps,
            "sink.files": run["written_files"] / reps,
        }


def _join_counts(spark, images, rois) -> dict:
    """Cover-join candidates, exact pairs and matched images for one ROI
    set (separate counting jobs, tagged apart from the timed steps)."""
    sc = spark.sparkContext
    sc.setJobGroup("counts", "counts")
    try:
        cand = spatial_join.cover_cells(
            images.select("image_id", "x0", "y0", "x1", "y1"),
            "x0", "y0", "x1", "y1").join(
            spatial_join.cover_cells(rois.select("roi_id", "rx0", "ry0", "rx1", "ry1"),
                                     "rx0", "ry0", "rx1", "ry1"), "cell").count()
        exact = spatial_join.filter_bounds(images, rois).count()
        matched = spatial_join.filter_bounds_semi(images.select(
            "image_id", "x0", "y0", "x1", "y1"), rois).count()
    finally:
        sc.setJobGroup("untagged", "untagged")
    return {
        "spatial_join.candidate_pairs": cand,
        "spatial_join.exact_pairs": exact,
        "spatial_join.refine_ratio": exact / cand if cand else 0.0,
        "spatial_join.matched_images": matched,
    }


# ---------------------------------------------------------------------------
# catalog_queries — short interactive requests
# ---------------------------------------------------------------------------

class CatalogQueries(Workload):
    """A seeded sequence of short requests over the staged 40 px
    catalogue: collection search, ROI month coverage, tiled composite."""

    name = "catalog_queries"
    work_unit = "requests"
    N_IMAGES = 6000
    N_ROIS = 60
    # one of each kind: of 24 requests the composites, the middle kind by
    # latency, hold ranks 9-16, so the median (ranks 12-13) and the tail
    # (rank 14) both fall inside one kind, never between two
    SEQUENCE = ("search", "coverage", "composite")
    N_SEQUENCES = 8      # distinct seeded sequences, cycled
    requests_per_unit = len(SEQUENCE)
    min_requests = 24    # the tail (p58) then has ten requests beyond it
    WINDOW_H = 1800      # date window, hours
    ROI_SUBSET = 15
    COMPOSITE_SPAN = 600  # image-index span of a composite request

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.images_path = os.path.join(
            harness.work_dir("stage"), f"catalog_n{self.N_IMAGES}_{synth.recipe_hash()}")
        epoch = dt.datetime.fromisoformat(synth.EPOCH)
        self.params = []
        for s in range(self.N_SEQUENCES):
            seq = []
            for r, kind in enumerate(self.SEQUENCE):
                rng = np.random.default_rng([seed, s, r])
                start = epoch + dt.timedelta(
                    hours=int(rng.integers(0, self.N_IMAGES - self.WINDOW_H)))
                end = start + dt.timedelta(hours=self.WINDOW_H)
                seq.append({
                    "kind": kind,
                    "start": start.isoformat(sep=" "),
                    "end": end.isoformat(sep=" "),
                    "rois": sorted(rng.choice(self.N_ROIS, self.ROI_SUBSET,
                                              replace=False).tolist()),
                    "cc": int(rng.integers(40, 61)),
                    "cloudless": float(rng.integers(50, 71)),
                    "lo": int(rng.integers(0, self.N_IMAGES - self.COMPOSITE_SPAN)),
                })
            self.params.append(seq)

    def stage(self, spark) -> None:
        self.staging_s = _stage_parquet(
            spark, self.images_path,
            lambda: synth.images_df(spark, self.N_IMAGES).repartition(8))

    def expect(self) -> None:
        con = oracles.connect()
        cat = oracles.Catalogue(con, self.N_IMAGES, self.N_ROIS)
        for seq in self.params:
            for p in seq:
                if p["kind"] == "search":
                    p["expected"] = cat.search(p["start"], p["end"], p["rois"],
                                               p["cc"], p["cloudless"])
                elif p["kind"] == "coverage":
                    p["expected"] = cat.coverage(p["start"], p["end"], p["rois"])
                else:
                    p["expected"] = cat.mean_profile(p["lo"], p["lo"] + self.COMPOSITE_SPAN)
        con.close()

    def register(self, spark) -> None:
        self.images = spark.read.parquet(self.images_path)
        self.rois = synth.rois_df(spark, self.N_ROIS)

    def _roi_subset(self, p):
        return self.rois.filter(F.col("j").isin(p["rois"]))

    def _search(self, p):
        found = collection_ops.search(
            self.images.filter("fmt = 'raw'"), start=p["start"], end=p["end"],
            rois=self._roi_subset(p),
            custom_filter=f"cast(props['CLOUD_COVER'] as int) <= {p['cc']}",
            cloudless_portion=p["cloudless"])
        return [r["image_id"] for r in found.select("image_id").collect()]

    def _coverage(self, p):
        window = collection_ops.filter_date(self.images, p["start"], p["end"])
        pairs = spatial_join.filter_bounds(window, self._roi_subset(p))
        out = (pairs.join(window.select("image_id", "time_start"), "image_id")
               .groupBy("roi_id").agg(
                   F.count(F.lit(1)).alias("n"),
                   F.countDistinct(F.date_trunc("month", "time_start")).alias("m")))
        return {r["roi_id"]: (r["n"], r["m"]) for r in out.collect()}

    def _composite_input(self, p):
        i = F.col("i")
        return self.images.filter(
            (i >= p["lo"]) & (i < p["lo"] + self.COMPOSITE_SPAN)
            & (i % 3 == 0) & (F.col("fmt") == "raw"))

    def _composite(self, p):
        tiles = composite.composite_tiled(self._composite_input(p), "mean",
                                          tile_h=20, tile_w=20)
        tiles.write.mode("overwrite").parquet(self.sink)
        return pq.read_table(self.sink).to_pylist()

    def _check(self, p, out) -> str:
        if p["kind"] != "composite":
            if out != p["expected"]:
                return f"{p['kind']}: result differs from the DuckDB evaluation"
            return ""
        prof = [None] * 40
        for row in out:
            px = codecs.decode(row["bytes"])[0, 0]  # strips: rows are equal
            for x, val in enumerate(px):
                prof[row["tc"] * 20 + x] = float(val)
        if not np.allclose(prof, p["expected"], rtol=1e-9, atol=1e-9):
            return "composite: mean profile differs from the DuckDB evaluation"
        return ""

    def _run(self, spark, p, group):
        fn = {"search": self._search, "coverage": self._coverage,
              "composite": self._composite}[p["kind"]]
        req = _request(spark, p["kind"], group, lambda: fn(p),
                       lambda out: self._check(p, out))
        harness.remove_tree(self.sink)
        spark.catalog.clearCache()
        return req

    def unit(self, spark, k, tag=None):
        seq = self.params[k % self.N_SEQUENCES]
        reqs = [self._run(spark, p, f"{tag or f'run-{k}'}-{r}-{p['kind']}")
                for r, p in enumerate(seq)]
        return reqs, len(reqs)

    def warm_up(self, spark, k):
        """The first set-up warms every request kind once; later ones, on
        the warm context, send the sequence's first request only."""
        seq = self.params[k % self.N_SEQUENCES]
        return [self._run(spark, p, f"warm-{k}-{p['kind']}")
                for p in (seq if k == 0 else seq[:1])]

    def trace(self, spark, reps):
        secs, comp_s = [], []
        for r in range(reps):
            reqs, _ = self.unit(spark, r)
            secs.append(sum(q.seconds for q in reqs))
            comp_s += [q.seconds for q in reqs if q.kind == "composite"]
        spark.sparkContext.setJobGroup("counts", "counts")
        p = next(q for q in self.params[0] if q["kind"] == "composite")
        groups = composite.composite_tiled(
            self._composite_input(p), "mean", tile_h=20, tile_w=20
        ).select("n_inputs").collect()
        out = {
            "composite.self_s": harness.median(comp_s),
            "composite.groups": len(groups),
            "composite.max_group_rows": max(g["n_inputs"] for g in groups),
        }
        p_cov = next(q for q in self.params[0] if q["kind"] == "coverage")
        window = collection_ops.filter_date(self.images, p_cov["start"], p_cov["end"])
        out.update(_join_counts(spark, window, self._roi_subset(p_cov)))
        self.skew = SkewProbe(self.seed)
        self.trace_requests += self.skew.run(spark, reps)
        return secs, out

    def layers(self, folded, driver, reps):
        searches = [g for g in folded["groups"] if g.startswith("run-")
                    and g.endswith("-search")]
        passes = sum(1 for s in folded["stages"].values()
                     if s["group"] in searches and s["input_records"] > 0)
        n = max(1, len(searches))
        scans = [folded["groups"][g] for g in searches]
        writes = [rec for g, rec in folded["groups"].items()
                  if g.startswith("run-") and g.endswith("-composite")]
        m = max(1, len(writes))
        return driver | self.skew.layers(folded, reps) | {
            "scan.passes": passes / n,
            "scan.bytes_read": sum(s["files_read_bytes"] for s in scans) / n,
            "scan.rows_read": sum(s["input_records"] for s in scans) / n,
            "sink.bytes_written": sum(x["written_bytes"] for x in writes) / m,
            "sink.files": sum(x["written_files"] for x in writes) / m,
        }


# ---------------------------------------------------------------------------
# skew probe — planted hot cell, broadcast off (traced runs only)
# ---------------------------------------------------------------------------

class SkewProbe:
    """big (half its rows in cell 0) x per-cell dim through
    spatial_join.adaptive_salted_join, then a per-cell aggregate, beside a
    plain join of the same inputs.  It measures the skew layer in
    catalog_queries' traced run, on a session of its own."""

    ROWS = 3_000_000
    HOT_TENTHS = 5
    ROWS_PER_TASK = 100_000
    # broadcast off, so the join must shuffle on the hot key; and a 1 MB
    # advisory partition, so this ~10 MB shuffle spans as many partitions
    # as a production-scale one does at the library's 16 MB (otherwise
    # AQE folds the whole join into one task and there is no skew)
    SESSION_CONF = {"spark.sql.autoBroadcastJoinThreshold": "-1",
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m"}

    def __init__(self, seed: int) -> None:
        # the seed moves the id range; the hot share and sizes stay fixed
        self.lo = (seed % 1000) * 10 * self.ROWS
        con = oracles.connect()
        self.expected = oracles.skew_cells(con, self.lo, self.ROWS, self.HOT_TENTHS)
        con.close()

    def _register(self, spark) -> None:
        ids = F.col("id")
        self.big = spark.range(self.lo, self.lo + self.ROWS).select(
            ids.alias("obs_id"),
            F.when(ids % 10 < self.HOT_TENTHS, F.lit(0))
            .otherwise(F.lit(1) + ids % 97).cast("long").alias("cell"),
            (ids % 1000).cast("long").alias("v"))
        self.dim = spark.range(98).select(F.col("id").alias("cell")).crossJoin(
            spark.range(4).select(F.col("id").alias("attr"))).select(
            "cell", (F.col("cell") * 4 + F.col("attr")).cast("long").alias("weight"))

    @staticmethod
    def _agg(joined):
        return joined.groupBy("cell").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("v") * F.col("weight")).cast("long").alias("wsum"))

    def _salted(self):
        joined = spatial_join.adaptive_salted_join(
            self.big, self.dim, "cell", rows_per_task=self.ROWS_PER_TASK)
        try:
            return {r["cell"]: (r["n_rows"], r["wsum"])
                    for r in self._agg(joined).collect()}
        finally:
            joined._salt_factors.unpersist()

    def _check(self, out) -> str:
        return "" if out == self.expected else \
            "skew probe: per-cell counts or sums differ from the closed form"

    def run(self, spark, reps: int) -> list[Request]:
        """``reps`` salted joins (tagged ``skew-run-*``, checked) and plain
        joins (``skew-plain-*``) on a new session with SESSION_CONF."""
        session = spark.newSession()
        for k, v in self.SESSION_CONF.items():
            session.conf.set(k, v)
        self._register(session)
        reqs = []
        for r in range(reps):
            reqs.append(_request(session, "skew", f"skew-run-{r}", self._salted,
                                 self._check))
            _timed(session, f"skew-plain-{r}",
                   lambda: self._agg(self.big.join(self.dim, "cell")).collect())
        return reqs

    def layers(self, folded: dict, reps: int) -> dict:
        salted = [s for s in folded["stages"].values()
                  if s["group"].startswith("skew-run")]
        join = max(salted, key=lambda s: s["shuffle_read_bytes"])
        plain = eventlog.total(folded, "skew-plain")
        run = eventlog.total(folded, "skew-run")
        return {
            "skew.task_max_over_median":
                join["task_max_ms"] / max(1.0, join["task_median_ms"]),
            "skew.extra_jobs": (run["jobs"] - plain["jobs"]) / reps,
        }


WORKLOADS = {w.name: w for w in (TileExport, CatalogQueries)}


def record_tile_digests(spark) -> str:
    """Per-image tile digests of every staged raw image, recorded once so a
    run's expected digest is the sum over its matched images."""
    wl = TileExport(0)
    wl.stage(spark)
    images = spark.read.parquet(wl.images_path).filter("fmt = 'raw'")
    tiles = pipeline.mask_and_tile(images, **wl.KERNEL_ARGS)
    rows = tiles.groupBy("image_id").agg(
        F.sum(F.xxhash64(*wl.DIGEST_COLS).cast("decimal(38,0)")).alias("d"),
        F.count(F.lit(1)).alias("n")).collect()
    bad = [r["image_id"] for r in rows if r["n"] != wl.TILES_PER_IMAGE]
    if bad:
        raise RuntimeError(f"images with a tile count other than 32: {bad[:5]}")
    out = {r["image_id"]: str(int(r["d"]) % (1 << 64)) for r in rows}
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    path = os.path.join(EXPECTED_DIR, "tile_digests.json")
    with open(path, "w") as f:
        json.dump(dict(sorted(out.items())), f, indent=0)
    return path
