"""Reference twins the tests check the engine's operators against.

Each module mirrors one library module and holds the plain numpy or
Catalyst form of a kept operator: ``cells`` (numpy cell encoders),
``geometry`` (bbox predicates), ``dedup`` (Catalyst MinHash), ``masks``
(per-offset erosion), ``similarity`` (Catalyst LSH buckets and plan),
``stencil`` (tile stitching) and ``streaming`` (batch twins of the
streaming joins and windows).  Nothing under ``geedim_spark/`` imports
them, so they do not ship in the ``--py-files`` zip.
"""
