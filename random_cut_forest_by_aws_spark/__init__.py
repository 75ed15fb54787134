"""random_cut_forest_by_aws_spark — a PySpark-native schema + constraint
validation engine.

A from-scratch re-expression of the query/data-processing capabilities of
``aws/random-cut-forest-by-aws`` (streaming Random Cut Forest sketches for
anomaly/drift detection) as an idiomatic PySpark engine:

* column statistics, uniqueness and referential constraints as pure
  DataFrame aggregations / broadcast anti-joins (Catalyst-optimized),
* distribution-drift detection via per-partition Random Cut Forest
  sketches implemented in vectorized NumPy inside an Arrow grouped map
  (``applyInArrow``; tree state = flat arrays, no per-row Python),
* per-partition pass/fail verdicts + violation rows, resumable from
  checkpointed forest state, with lineage/metrics tables.

Reference semantics are cited per module as ``file:line`` into the
read-only reference checkout (see SURVEY.md).
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
