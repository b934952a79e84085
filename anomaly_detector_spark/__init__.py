"""anomaly_detector_spark — a PySpark-native schema + constraint validation
engine over tables of multi-turn conversation transcripts, whose
distribution-drift checks re-express the query semantics of
microsoft/anomaly-detector (``time-series-anomaly-detector==0.4.0``) as
DataFrame operators and vectorized Arrow UDFs.

Layout
------
- ``session``    : SparkSession builder (Arrow, AQE, skew-join tuned).
- ``schema``     : canonical StructTypes (transcripts, registry, verdicts).
- ``data``       : deterministic synthetic data generators (no external data).
- ``kernels``    : pure numpy/pandas ports of the reference's scoring kernels
                   (SR, ESD, STL, period detection, margins) — no Spark deps,
                   shared by the Arrow UDFs and the golden-corpus tests.
- ``operators``  : Spark DataFrame operators (stats, constraints, drift,
                   dedup, similarity, text analysis, multimodal plumbing).
- ``engine``     : check registry, validation runner, checkpoint/lineage.
"""

__version__ = "0.1.0"
