"""tileigi_spark — a PySpark-native vector-tile + spatial-join engine.

Re-implements the capabilities of amandasaurus/tileigi (reference at
/root/reference, Rust) as an idiomatic Spark DataFrame pipeline:

* an exact-integer geometry core (remap / simplify / clip / validity / MVT
  encode) executed in Arrow-vectorized pandas UDFs — byte-deterministic
  under any partitioning (reference: src/lib.rs, simplify.rs, clip/,
  validity.rs),
* relational plumbing (tile enumeration, cover joins, salted groupBys,
  checkpoint/resume anti-joins) expressed with the DataFrame API so
  Catalyst handles pushdown/pruning/AQE,
* a web-page geotagging front-end (coordinate extraction from text),
* large-scale training-data operators (dedup, similarity search, text
  analysis) over document/embedding tables.
"""

__version__ = "0.1.0"

from . import zipguard as _zipguard

# Every Spark Python worker that runs an engine function imports this
# package, so from then on its tasks skip re-reading pyspark.zip's
# directory (see zipguard).
_zipguard.install()
