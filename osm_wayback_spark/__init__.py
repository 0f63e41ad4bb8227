"""osm_wayback_spark — a PySpark-native historical spatial-join + tiling engine.

A from-scratch rebuild of the capabilities of osmlab/osm-wayback
(reference at /root/reference) on idiomatic Spark:

- the RocksDB version index (reference db.hpp) becomes a columnar
  ``versions`` table bucketable by id,
- the per-feature point-lookup history join (add_history.cpp:94-213)
  becomes an equi-join + range predicate + ``collect_list``,
- the tag diff (add_history.cpp:118-204) becomes ``lag`` +
  map higher-order functions (zero Python in the hot path),
- the node-location join (add_geometry.cpp) becomes
  explode → distinct → join → re-nest,
- the geometry-reconstruction worker pool
  (geometry-reconstruction/index.js) becomes a grouped pandas UDF,
- tippecanoe tile assignment (run.sh:65) becomes vectorized
  Web-Mercator column math + a (z, x)-partitioned table.

Plus the large-scale training-data ops: dedup (exact / MinHash-LSH /
SimHash / n-gram Jaccard), similarity search and text analysis.
"""

__version__ = "0.1.0"
