"""docling_gfcr_spark — a PySpark-native distributed main-content extraction engine.

Brand-new rebuild (NOT a port) of the query/data-processing capabilities of the
reference ``prof-ramos/docling-gfcr`` (a single-machine document->Markdown
conversion tool), re-expressed as an idiomatic Spark DataFrame pipeline over a
table of multi-turn conversation/agent transcripts
``(conv_id string, turn_idx int, role string, text string, tool string, ts timestamp)``.

Layout
------
- ``kernels/``   pure-Python extraction kernels (pandas-vectorizable, Spark-free,
                 unit-testable) that preserve the reference's text semantics
                 byte-for-byte (see each module's file:line citations).
- ``pipeline.py``  the columnar extraction pipeline: route -> fused Arrow pandas
                 UDF -> optimize -> validate -> metrics, with skew-safe
                 two-phase assembly and stable turn ordering.
- ``transcripts.py``  deterministic distributed synthetic transcripts generator.
- ``lineage.py``  per-partition lineage checkpointing + resume (anti-join).
- ``session.py`` / ``daemon.py``  the local SparkSession factory and the
                 Python worker daemon it starts, which imports the workers'
                 modules once before forking them.
- ``operators/``  large-scale training-data ops: dedup (exact / MinHash-LSH /
                 SimHash / n-gram Jaccard / embedding-cosine), similarity
                 search, text analysis, multimodal column plumbing.
"""

__version__ = "0.1.0"

# runs in the worker daemon before it forks (see daemon), or else first in
# every Python worker that runs a package UDF: stops each task re-reading
# every zip on the worker's sys.path (see zipcache)
from docling_gfcr_spark import zipcache  # noqa: E402,F401
