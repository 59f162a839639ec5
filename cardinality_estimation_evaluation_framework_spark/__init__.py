"""PySpark-native distributed sketch / approximate-aggregation library.

A from-scratch re-expression of the query and data-processing capabilities of
world-federation-of-advertisers/cardinality_estimation_evaluation_framework
(the "reference", read-only at /root/reference) as idiomatic PySpark:

- sketches are mergeable, associative aggregation states (small numpy vectors)
  built per-partition by ``mapInArrow`` kernels, which read array columns
  through ``aggregate.flat``, and merged by a treeAggregate-style reduction
  (``operators.aggregate``);
- estimators are driver-side numpy functions over the tiny merged state;
- set generators / simulator / evaluator / analyzer are Spark DataFrame jobs.

Nothing in this package is a port of the reference's implementation; citations
of the form ``ref: file.py:line`` in docstrings point at the behavior being
matched, per SURVEY.md.
"""

from cardinality_estimation_evaluation_framework_spark.worker_zipimport import (
    lazy_zip_directories,
)

__version__ = "0.1.0"

lazy_zip_directories()
