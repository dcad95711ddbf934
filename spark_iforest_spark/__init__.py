"""spark_iforest_spark — a PySpark-native Isolation Forest analytics engine.

A from-scratch rebuild of the capabilities of titicaca/spark-iforest
(reference: /root/reference, Scala ML Estimator) as a pure-Python
``pyspark.ml`` pipeline stage, plus the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns)
that a 100 TB corpus pipeline needs.

Design stance (SURVEY.md §7): DataFrames end-to-end; the only
Python-executed operators are one Arrow tree-build function (training)
and one ``arrow_udf`` (scoring); everything else is Catalyst expressions.

The estimator classes load on first access (PEP 562): Python workers
import this package to unpickle the scoring and training closures, and
must not also import ``iforest`` and through it all of ``pyspark.ml``:
PySpark re-reads every zipimporter on the worker path at the start of
each task, and ``pyspark.ml`` adds three of them.
"""

__version__ = "0.1.0"

__all__ = ["IForest", "IForestModel", "IForestSummary", "__version__"]


def __getattr__(name: str):
    if name in ("IForest", "IForestModel", "IForestSummary"):
        from spark_iforest_spark import iforest

        return getattr(iforest, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
