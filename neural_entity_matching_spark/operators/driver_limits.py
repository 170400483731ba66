"""Row bounds for operators that run on the driver below a size and on
Spark above it (the reference runs both steps in memory).

Each bound is a row count the caller already knows, or reads through a
capped collect, before anything unbounded lands on the driver. It is a
measured constant, not a user knob.
"""

# largest edge count the 'local' algorithm is asked to hold on the driver:
# the largest size measured to fit and to beat 'label_propagation' (clusters
# stage as run_pipeline runs it, local[4] on a 4-core host, 3g and 4g driver
# heaps). At 1M string-id edges and a 3g heap the driver JVM peaked at
# 2.0-2.2 GB RSS and Python at 0.5-0.6 GB (label propagation: 3.8 GB JVM;
# 4.9 GB at 4g). The stage took 12-16 s against 37-48 s on 5-id chains
# and 15-18 s against 16-26 s on disjoint pairs (2M ids)
LOCAL_MAX_EDGES = 1_000_000

# largest training set ml_scorer fits the logistic matcher on in driver
# memory; above it spark.ml's LogisticRegression fits it. Measured on that
# 4-core host (local[4], 3g heap) with 6 features and noisy labels: at 1M rows
# the capped Arrow collect plus the numpy fit took 3.7 s against spark.ml's
# 9.6 s (100k rows: 1.1 s against 5.9 s), same coefficients to 4 decimals,
# Python peak RSS 0.44 GB
LOCAL_MAX_FIT_ROWS = 1_000_000
