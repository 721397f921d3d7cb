"""Pixel dtype helpers (SURVEY §2.8): per-dtype nodata and the saturating
``cast_pixels`` the export kernels call (:mod:`.dtypes`)."""
