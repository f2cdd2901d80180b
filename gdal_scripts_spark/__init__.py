"""gdal_scripts_spark — a from-scratch PySpark-native spatial-join + tiling
engine with the query/data-processing capabilities of the GDAL/OGR utility
script family (reference: supergis/GDAL_scripts).

Not a port: semantics come from the public GDAL algorithms (cited per module
as ``path/file : symbol`` into the public GDAL 3.8.x tree, see SURVEY.md §0);
the execution design is idiomatic Spark — DataFrame/SQL plans optimized by
Catalyst, Arrow UDFs only where built-ins cannot express the
semantics (pixel kernels, ray-cast point-in-polygon, connected components).

Module map (SURVEY.md §7):
  session     SparkSession factory tuned for binary-heavy Arrow batches
  arrowrows   row tuples -> Arrow tables; map_rows runs every per-row stage
  cells       GlobalMercator/GlobalGeodetic tile math, quadkey, Morton/Hilbert
              cell ids — native Column expressions (zero UDF)
  codecs      numpy image codecs (PPM/PGM/PNG via zlib), aHash, GDAL checksum
  fixtures    deterministic seeded generators for images/polygons/query_points
  geom        polygon packs, ray-cast PiP, shoelace area/centroid, rect clip
  joins       broadcast PiP and S2 rings-covering spatial joins, semi/anti
  overlay     P5 GEOS predicate family (exact segment/PiP kernel) + U2 layer
              algebra (intersection/erase/union via convex S-H clip)
  knn         grid-partitioned kNN with sound ring expansion
  raster      decode/stats/histogram/checksum/retile/clip/resample/pyramid/
              mosaic/rasterize over the images table
  polygonize  per-image run-based CCL + ring tracing in one map pass; sieve
  textops     dedup (exact/minhash/simhash/jaccard), langid, quality, tokens,
              winnowing rolling-hash fingerprints
  sketches    KMV distinct-count sketch (mergeable Arrow partial combine)
  vectorops   embedding similarity: brute-force, LSH and IVF cosine top-k,
              PQ and IVF-PQ ADC top-k over one centroid kernel, PCA
  multimodal  binary-column decode plumbing (codec-gated stubs)
  checkpoint  per-partition lineage manifest + exact resume
  zipcache    Python workers: skip re-reading unchanged zip archives on
              PySpark's per-task import-cache reset
"""

__version__ = "0.1.0"

from . import zipcache  # noqa: F401  (installs itself in Python workers only)
