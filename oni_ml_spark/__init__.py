"""oni_ml_spark — PySpark-native analytics engine with the query and
data-processing capabilities of Open-Network-Insight/oni-ml.

Built Spark-first: DataFrame/SQL declarative plans, Catalyst-optimized,
no RDD detours; LDA is the reference's batch variational EM as a vectorized
numpy kernel over one Arrow collect of the corpus, instead of its external
MPI LDA-C process (reference: OniLDACWrapper.scala:63-84).
"""

__version__ = "0.1.0"
