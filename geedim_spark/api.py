"""High-level chained pipeline API — the reference CLI's shape as a fluent
Python API.

geedim's CLI is a chained click group: ``geedim config ... search ...
composite ... download ...`` (/root/reference/geedim/cli.py:386-396), where
each stage mutates a shared context (cloud-mask kwargs, found images).  The
Spark-native equivalent is a fluent :class:`Collection` over a DataFrame:

    (Collection.from_synthetic(spark, 10_000)
        .config(mask_shadows=False)                 # cli.py:523-537
        .search(start="2024-01-01", end="2024-03-01",
                rois=rois, cloudless_portion=60)    # cli.py:616-676
        .composite("q-mosaic")                      # cli.py:984-1014
        .download("/data/out_table"))               # cli.py:771-829

Every stage is lazy (returns a new Collection wrapping a DataFrame plan)
except ``download``, which triggers the snapshot-committed export.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geedim_spark import schema as gd_schema
from geedim_spark import synth
from geedim_spark.operators import collection_ops, composite as comp_ops, pipeline
from geedim_spark.operators import export_ops, masks
from geedim_spark.sources import snapshots


@dataclass
class Collection:
    df: DataFrame
    cloud_kwargs: dict = field(default_factory=dict)

    # -- sources --------------------------------------------------------
    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str) -> "Collection":
        return cls(spark.read.parquet(path))

    @classmethod
    def from_synthetic(cls, spark: SparkSession, n: int, **kw) -> "Collection":
        return cls(synth.images_df(spark, n, **kw))

    @classmethod
    def from_images(cls, *collections: "Collection") -> "Collection":
        """fromImages union + compatibility check (collection.py:124-160)."""
        df = collections[0].df
        for c in collections[1:]:
            df = df.unionByName(c.df)
        collection_ops.check_compatible_collections(df)
        return cls(df, dict(collections[0].cloud_kwargs))

    # -- chained stages --------------------------------------------------
    def config(self, **cloud_kwargs) -> "Collection":
        """Store explicitly-passed cloud-mask kwargs (cli.py:523-537: only
        explicit flags enter the context)."""
        merged = dict(self.cloud_kwargs)
        merged.update(cloud_kwargs)
        return Collection(self.df, merged)

    def search(
        self,
        start=None,
        end=None,
        rois: DataFrame | None = None,
        custom_filter: str | None = None,
        fill_portion: float | None = None,
        cloudless_portion: float | None = None,
    ) -> "Collection":
        # resolve the collection id only when a filter could use schema
        # abbreviations — collection_id() runs a (meta-only) distinct query
        cid = self.collection_id() if custom_filter else None
        found = collection_ops.search(
            self.df, start=start, end=end, rois=rois,
            custom_filter=custom_filter, fill_portion=fill_portion,
            cloudless_portion=cloudless_portion, mask_opts=self.cloud_kwargs,
            collection_id=cid,
        )
        return Collection(found, self.cloud_kwargs)

    def composite_tiled(
        self,
        method: str = "q-mosaic",
        tile_h: int = 16,
        tile_w: int = 16,
        date: str | None = None,
        by_portion: bool = False,
        scale: float = 10.0,
        max_cloud_dist: float = 5000.0,
        medoid_max_stack: int = 64,
    ) -> DataFrame:
        """Tile-keyed composite — **the form to use at scale** (the shuffle
        key is the tile grid; :meth:`composite` stacks whole images per
        group and is the test-scale twin).

        Composite decision matrix:

        ======================  =============================================
        shape                   use
        ======================  =============================================
        test scale / small      :meth:`composite` (whole-image stack)
        scale, any method       this method — every method equals the
                                whole-image composite bit-for-bit;
                                ``q-mosaic`` takes each image's CLOUD_DIST
                                from the whole image in the decode stage
        ======================  =============================================

        Memory: the decode stage holds one whole image per task, the
        (tr, tc) reduce holds n_images x tile_size.

        Returns the raw tiled frame (tr, tc, bytes, n_inputs) — assemble
        with ``export_ops.assemble_image`` / the sinks, which is how the
        driver queries consume it.

        ``medoid_max_stack`` (medoid only) bounds the O(N^2)
        pairwise-distance stack per tile group, mirroring the reference's
        5000-image export cap (collection.py:102) in spirit: groups beyond
        the cap keep the best ``medoid_max_stack`` inputs by the explicit
        (sort_key desc, image_id asc) total order and warn loudly; the
        output's ``n_inputs`` still reports the full group size, so
        ``n_inputs > medoid_max_stack`` flags a truncated group.  The
        whole-image twin :meth:`composite` applies the same guard and
        additionally reports ``n_used``.
        """
        src = comp_ops.sort_for_composite(self.df, method, date=date,
                                          by_portion=by_portion)
        return comp_ops.composite_tiled(
            src, method, tile_h=tile_h, tile_w=tile_w,
            mask_opts=self.cloud_kwargs, scale=scale,
            max_cloud_dist=max_cloud_dist, medoid_max_stack=medoid_max_stack,
        )

    def composite(self, method: str = "q-mosaic", date: str | None = None,
                  by_portion: bool = False) -> "Collection":
        """Composite the collection into a downloadable one-image frame.

        NOTE this stacks every co-located image on one task — right for
        the reference-parity surface and test scale; at scale use
        :meth:`composite_tiled`, which gives the same pixels per tile.

        The raw composite kernel emits (group_id, bytes, n_inputs); this
        re-attaches the image-table columns (grid, id, caption, a
        'COMPOSITE/<method>' collection tag) so the chained
        ``.download(...)`` works on the result, like the reference CLI's
        composite -> download chain (cli.py:984-1014 -> 771-829).  Masks
        were already applied INSIDE the composite; the generic (non-sensor)
        branch of the export mask kernel then passes pixels through."""
        src = comp_ops.sort_for_composite(self.df, method, date=date,
                                          by_portion=by_portion)
        out = comp_ops.composite_collection(
            src, method, mask_opts=self.cloud_kwargs
        )
        name = method.upper().replace("-", "_")
        # one aggregate for the grid and the time: the export guard allows
        # one (w, h) grid, so MIN is any row's; the reference sets the
        # composite time range from the inputs' min/max
        # (collection.py:710-724).  One extra pass over the input lineage.
        meta = self.df.agg(
            F.min("w").alias("w"), F.min("h").alias("h"),
            F.min("time_start").alias("time_start"),
        )
        decorated = out.crossJoin(F.broadcast(meta)).select(
            F.concat(F.lit(f"{name}-COMP-"), F.col("group_id")).alias("image_id"),
            F.concat(F.lit(f"caption-{method}-"), F.col("group_id")).alias("caption"),
            "bytes", "n_inputs", "n_used",  # n_used < n_inputs reports the
                                            # medoid stack truncation loudly
            F.lit(f"COMPOSITE/{name}").alias("collection"),
            "w", "h", F.lit("raw").alias("fmt"), "time_start",
        )
        return Collection(decorated, self.cloud_kwargs)

    def composite_metadata(self, method: str) -> DataFrame:
        return comp_ops.composite_metadata(self.df, method)

    # -- sinks ------------------------------------------------------------
    def prepare_for_export(
        self,
        scale_offset: dict[int, tuple[float, float]] | None = None,
        dtype: str | None = None,
        crs: str | None = None,
        crs_transform=None,
        shape=None,
        region=None,
        scale: float | None = None,
        like=None,
        resampling: str = "near",
    ) -> "Collection":
        """prepareForExport analog over the whole collection (image.py:
        741-862): per-band STAC scale/offset, saturating dtype cast, and
        — when any of ``crs`` / ``crs_transform`` / ``shape`` /
        ``region`` / ``scale`` / ``like`` is given — reprojection onto
        the export grid (operators/reproject.py: validation per
        image.py:804-818, grid preservation per image.py:820-833,
        resampling 'near'/'bilinear'/'bicubic').  Every other column
        passes through; the georeferencing columns (transform/crs/w/h and
        the footprint bbox) are updated from the resolved grid, and
        ``fmt`` rewritten to 'raw'.

        ORDERING: run this AFTER any mask computation/application — the
        cast saturates the QA bands, garbling cloud bits for any later
        mask kernel.  For the download chain use
        ``download(..., export_dtype=...)``, which casts inside the export
        kernel after the masks (the reference's addMaskBands ->
        maskClouds -> prepareForExport order).  With both scale/offset
        and a grid, interpolation happens in float64 AFTER scale/offset
        and the dtype cast comes last (saturating)."""
        spatial = any(
            v is not None
            for v in (crs, crs_transform, shape, region, scale, like)
        )
        if not spatial:
            df = export_ops.with_export_pixels(self.df, scale_offset, dtype)
            return Collection(df, self.cloud_kwargs)
        from geedim_spark.operators import reproject as _rp

        df = self.df
        if scale_offset:
            # scale/offset first (float64), interpolate, cast last
            df = export_ops.with_export_pixels(df, scale_offset)
            dtype = dtype or "float64"
        # every metadata column passes THROUGH the reprojection kernel
        # (grid columns + footprint bbox rewritten in place)
        out = _rp.reproject_images(
            df, crs=crs, crs_transform=crs_transform, shape=shape,
            region=region, scale=scale, like=like,
            resampling=resampling, dtype=dtype,
        )
        return Collection(out, self.cloud_kwargs)

    def download(
        self,
        table_dir: str,
        partition_col: str = "collection",
        resume: bool = True,
        **tiler_kwargs,
    ) -> str:
        """Mask + tile + snapshot-committed export; returns the snapshot id.

        With ``resume=True`` only partitions not in the current manifest
        are processed (the reference restarts failed downloads from zero,
        tile.py:349-378 — this is the checkpointed replacement)."""
        collection_ops.check_export_guards(self.df)
        work = self.df
        if resume:
            work = snapshots.pending_keys(work, table_dir, partition_col)
        opts = {**self.cloud_kwargs, **tiler_kwargs}
        # the partition key rides on each tile row as Arrow: nothing joins
        # back on image_id, and a long keeps every digit
        keep = dict.fromkeys(("image_id", "caption", partition_col))
        tiles = pipeline.mask_and_tile(work, keep=list(keep), **opts)
        return snapshots.write_snapshot(
            tiles, table_dir, partition_col, stats_cols=("fill_px",)
        )

    # -- conveniences ------------------------------------------------------
    def count(self) -> int:
        return self.df.count()

    def collection_id(self) -> str | None:
        """The (single) collection id of the wrapped frame, or None when
        mixed/absent — drives the declared-schema lookups."""
        if "collection" not in self.df.columns:
            return None
        ids = [r[0] for r in self.df.select("collection").distinct().limit(2).collect()]
        return ids[0] if len(ids) == 1 else None

    def schema(self, prop_names=None) -> dict[str, dict]:
        """Declared property schema for this collection, optionally
        restricted/extended to ``prop_names`` (schemaPropertyNames analog,
        collection.py:233-292)."""
        return gd_schema.schema_for(self.collection_id(), prop_names)

    def schema_table(self, prop_names=None) -> str:
        """Printable (ABBREV, NAME, DESCRIPTION) table (collection.py:
        294-312)."""
        return gd_schema.schema_table(self.schema(prop_names))

    def properties(self, n: int = 20) -> dict[str, dict]:
        """Per-image property dicts keyed by system:index (the reference's
        ``coll.gd.properties``, collection.py:314-328) — the search-results
        payload the CLI prints and JSON-dumps.  Portion columns and
        time_start are folded into the props view when present."""
        # prune to the meta columns the table needs — a bare collect would
        # pull every image's ~150 kB bytes blob to the driver
        want = [c for c in ("props", "time_start", "FILL_PORTION",
                            "CLOUDLESS_PORTION") if c in self.df.columns]
        rows = self.df.select(*want).limit(n).collect() if want else []
        props: dict[str, dict] = {}
        for i, r in enumerate(rows):
            d = dict(r["props"]) if "props" in self.df.columns and r["props"] else {}
            if "time_start" in self.df.columns:
                d.setdefault("system:time_start", r["time_start"])
            for c in ("FILL_PORTION", "CLOUDLESS_PORTION"):
                if c in self.df.columns:
                    d[c] = r[c]
            props[d.get("system:index", str(i))] = d
        return props

    def properties_table(self, n: int = 20, prop_names=None) -> str:
        """Schema-defined per-image property table with abbreviated headers
        (propertiesTable analog, collection.py:330-360)."""
        return gd_schema.properties_table(self.properties(n),
                                          self.schema(prop_names))

    def show_schema_table(self, n: int = 20) -> None:
        """Print the declared schema + per-image property tables."""
        print(self.schema_table())
        print(self.properties_table(n))


@dataclass
class Image:
    """Per-image facade — the reference's ``MaskedImage`` / ``ee.Image.gd``
    accessor surface (mask.py:547; utils.py:200-262; image.py:655-1176) as a
    thin wrapper over the operator modules.  Each method is lazy (returns a
    new Image over a rewritten plan) except the sinks.

    The wrapped frame may hold ANY number of rows — "an image" here is a
    selection, so the same methods drive one image or a whole collection
    (the reference reaches the same effect via ``ee_coll.map``).
    """

    df: DataFrame
    cloud_kwargs: dict = field(default_factory=dict)

    @classmethod
    def from_id(cls, spark: SparkSession, path: str, image_id: str) -> "Image":
        """download.py:52-65 — scan filtered to one id (pushed to parquet)."""
        df = spark.read.parquet(path).where(F.col("image_id") == image_id)
        return cls(df)

    def config(self, **cloud_kwargs) -> "Image":
        merged = {**self.cloud_kwargs, **cloud_kwargs}
        return Image(self.df, merged)

    # -- metadata accessor surface (image.py:247-434) ----------------------
    # All properties are BOUNDED driver pulls: one metadata row (never the
    # byte blob except `dtype`, which probes a single image's header).
    # Multi-row frames report the FIRST image by id, mirroring the
    # reference's per-image accessor.

    def _meta_row(self):
        if not hasattr(self, "_cached_meta"):
            cols = [c for c in self.df.columns if c != "bytes"]
            object.__setattr__(
                self, "_cached_meta",
                self.df.select(*cols).orderBy("image_id").first(),
            )
        return self._cached_meta

    @property
    def id(self) -> str | None:
        """image.py:257-259."""
        r = self._meta_row()
        return r["image_id"] if r else None

    @property
    def index(self) -> str | None:
        """image.py:262-264 (system:index property)."""
        r = self._meta_row()
        if r is None:
            return None
        props = dict(r["props"]) if "props" in r.__fields__ and r["props"] else {}
        return props.get("system:index")

    @property
    def date(self):
        """image.py:267-275 (system:time_start as datetime)."""
        r = self._meta_row()
        return r["time_start"] if r and "time_start" in r.__fields__ else None

    @property
    def properties(self) -> dict:
        """image.py:278-280."""
        r = self._meta_row()
        if r is None or "props" not in r.__fields__ or not r["props"]:
            return {}
        return dict(r["props"])

    @property
    def crs(self) -> str | None:
        """image.py:283-285."""
        r = self._meta_row()
        return r["crs"] if r and "crs" in r.__fields__ else None

    @property
    def transform(self) -> list | None:
        """image.py:288-290."""
        r = self._meta_row()
        return (list(r["transform"])
                if r and "transform" in r.__fields__ else None)

    @property
    def shape(self) -> tuple | None:
        """image.py:293-297 ((height, width))."""
        r = self._meta_row()
        if r is None or "h" not in r.__fields__:
            return None
        return (int(r["h"]), int(r["w"]))

    @property
    def count(self) -> int | None:
        """image.py:300-303 (number of bands, from the family layout)."""
        r = self._meta_row()
        if r is None:
            return None
        return len(masks.band_names_for(r["collection"]))

    @property
    def dtype(self) -> str | None:
        """image.py:305-339 — probed from one image's encoded header
        (the only accessor that touches pixel bytes; still one row)."""
        from geedim_spark import codecs as _codecs

        row = self.df.select("bytes").orderBy("image_id").first()
        if row is None:
            return None
        return _codecs.decode(bytes(row["bytes"])).dtype.name

    @property
    def nodata(self):
        """image.py:342-352 (dtype-determined fill value)."""
        from geedim_spark import codecs as _codecs

        dt = self.dtype
        return _codecs.NODATA_VALS[dt] if dt else None

    @property
    def size(self) -> int | None:
        """image.py:355-360 (uncompressed pixel-grid byte size)."""
        import numpy as _np

        sh, dt, n = self.shape, self.dtype, self.count
        if None in (sh, dt, n):
            return None
        return int(sh[0] * sh[1] * n * _np.dtype(dt).itemsize)

    @property
    def profile(self) -> dict | None:
        """image.py:363-376 (rasterio-style export profile)."""
        sh = self.shape
        if sh is None:
            return None
        return {
            "crs": self.crs, "transform": self.transform,
            "width": sh[1], "height": sh[0], "count": self.count,
            "dtype": self.dtype, "nodata": self.nodata,
        }

    @property
    def scale(self) -> float | None:
        """image.py:379-381 (minimum band scale = x pixel size here)."""
        t = self.transform
        return abs(float(t[0])) if t else None

    @property
    def geometry(self) -> dict | None:
        """image.py:384-397 (footprint as a GeoJSON Polygon bbox)."""
        r = self._meta_row()
        if r is None or "x0" not in r.__fields__:
            return None
        x0, y0, x1, y1 = (float(r[c]) for c in ("x0", "y0", "x1", "y1"))
        return {
            "type": "Polygon",
            "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1],
                             [x0, y0]]],
        }

    @property
    def bounded(self) -> bool:
        """image.py:400-404 (has a non-degenerate footprint)."""
        g = self.geometry
        if g is None:
            return False
        (x0, y0), _, (x1, y1) = g["coordinates"][0][0], None, g["coordinates"][0][2]
        return x1 > x0 and y1 > y0

    @property
    def band_names(self) -> list | None:
        """image.py:407-410 (bandNames)."""
        r = self._meta_row()
        if r is None:
            return None
        return list(masks.band_names_for(r["collection"]))

    @property
    def spec_bands(self) -> list | None:
        """image.py:423-431 (reflectance bands, STAC center_wavelength
        analog: the B*/SR_B* names)."""
        names = self.band_names
        if names is None:
            return None
        return [n for n in names if n.startswith(("B", "SR_B"))]

    @property
    def cloud_support(self) -> bool:
        """image.py:434-436 (collection has cloud/shadow mask support)."""
        r = self._meta_row()
        if r is None:
            return False
        return masks._sensor_for(r["collection"]) in ("landsat", "s2")

    @property
    def fixed(self) -> bool:
        """image.py:526-528 (has a fixed projection)."""
        r = self._meta_row()
        return bool(r and "transform" in r.__fields__
                    and r["transform"] is not None)

    # -- mask surface (image.py:655-739) -----------------------------------
    def add_mask_bands(self) -> DataFrame:
        """addMaskBands analog: per-image mask statistics + portions
        (the columnar engine carries mask AGGREGATES as properties; the
        pixel masks live inside the kernels that consume them)."""
        return masks.with_portions(
            masks.mask_stats(self.df, **self.cloud_kwargs)
        )

    def mask_clouds(self) -> "Image":
        """updateMask(CLOUDLESS_MASK) analog — non-cloudless pixels to
        nodata, ``bytes`` re-encoded RAW and ``fmt`` rewritten in place."""
        return Image(masks.with_clouds_masked(self.df, **self.cloud_kwargs),
                     dict(self.cloud_kwargs))

    # -- export surface (image.py:741-1176) ---------------------------------
    def prepare_for_export(self, scale_offset=None, dtype=None,
                           band_regex=None, **grid_kwargs) -> "Image":
        """``band_regex`` band select, then :meth:`Collection.prepare_for_export`
        (``grid_kwargs``: crs / crs_transform / shape / region / scale /
        like / resampling — reprojection onto the export grid)."""
        df = self.df
        if band_regex is not None:
            df = export_ops.with_bands_selected(df, band_regex)
        coll = Collection(df, dict(self.cloud_kwargs)).prepare_for_export(
            scale_offset=scale_offset, dtype=dtype, **grid_kwargs)
        return Image(coll.df, dict(self.cloud_kwargs))

    def to_tiles(self, **tiler_kwargs) -> DataFrame:
        """Primary sink (toGeoTIFF analog): the tiles table."""
        return export_ops.export_tiles(self.df, **tiler_kwargs)

    def to_numpy(self, image_id: str, bands: int, h: int, w: int,
                 dtype: str = "uint16"):
        """toNumPy analog (image.py:1087-1176): assemble one image's tiles
        driver-side.  Test-scale only by design."""
        # filter BEFORE export_tiles: a predicate above the Python map
        # barrier cannot be pushed down, so every image in the frame would
        # be decoded and re-encoded just to assemble one
        one = Image(self.df.where(F.col("image_id") == image_id),
                    dict(self.cloud_kwargs))
        return export_ops.assemble_image(one.to_tiles().collect(),
                                         bands, h, w, dtype)
