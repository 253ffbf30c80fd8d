"""lakeview_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of onehouseinc/LakeView.

Two layers (see SURVEY.md):

- Layer A (metadata dataflow): Hudi table discovery, timeline parsing,
  commit-group batching, incremental checkpointed mirroring — re-expressed
  as DataFrame pipelines (reference: a Java 8 CompletableFuture dataflow).
- Layer B (metadata analytics): the product-side Spark SQL / DataFrame
  queries (table stats, partition insights, compaction backlog, timeline
  history) plus large-scale training-data pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing).

Everything is declarative DataFrame-first so Catalyst handles pushdown,
pruning, join strategy and codegen; the only imperative kernels are the
greedy batch packer (inherently sequential per table, parallel across
tables via applyInPandas) and the recursive table-discovery walk.
"""

__version__ = "0.1.0"

from lakeview_spark.session import get_spark  # noqa: F401
