"""fagi_spark — a PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of the reference
FAGI-gis (Java + Virtuoso/PostGIS conflation tool, read-only at
/root/reference) as an idiomatic Spark DataFrame engine:

- geocoding of Common-Crawl-style web pages (geo-entities extracted from
  ``text`` via vectorized Arrow UDFs) into hierarchical grid cells at
  multiple resolutions (``cells.py``),
- FAGI-style link discovery as a cell-partitioned equi-join with an
  exact ray-cast refine of the envelope-filtered candidates
  (``joins.py``, ``discover.py``),
- kNN conflation matching via cell-ring expansion + distance re-rank,
- the full registry of FAGI fused-geometry actions (``fuse.py``) and
  metadata fusion actions (``metadata_fuse.py``),
- raster<->vector tile assignment (``joins.bbox_join`` + ``cells``),
- skew handling (salting + adaptive cell splitting, ``cells.py``),
  checkpoint/lineage (``checkpoint.py``),
- training-data ops: dedup / quality / lang-ID (``textops.py``), ANN
  (``vector.py``), multimodal binaries (``multimodal.py``), clustering
  (``cluster.py``), learning (``learning.py``), schema matching
  (``schema_match.py``), N-Triples io (``io.py``), streaming ingest
  (``streaming.py``).

Pure Python, shipped via ``spark-submit --py-files``; no JVM extensions.
"""

__version__ = "0.1.0"
