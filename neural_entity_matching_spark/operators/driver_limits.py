"""Size bounds for operators that run on the driver below a size and on
Spark above it (the reference runs both steps in memory).

Each bound is a row, byte or pair count the caller already knows, reads
through a capped collect or one aggregate, or counts before it builds
anything, so nothing unbounded lands on the driver. It is a measured
constant, not a user knob.
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

# lsh_block's driver path, measured with lsh_block plus the candidates
# write against its grouped Spark path (local[4] on a 4-core host, 3g heap,
# 128 hashes in 64 bands, block cap 35 unless named, warm runs, ranges over
# two builds of the path; "pairs" are pairs before dedup). A collect of the text lengths, capped at
# LOCAL_MAX_SIGNATURES + 1 rows, sizes the signatures before any text is
# collected; within both size bounds the rows come back as one Arrow table.
#
# largest signature table, in rows: 711 docs 0.48-0.58 s against grouped's
# 1.84 s, 6,620 docs 1.34-1.54 s against 4.70 s, 32,996 docs (4.3M pairs)
# 5.08-5.95 s against 13.50 s, and at this bound (50k docs in 4 files,
# ~500 B each) 4.24-5.67 s against 8.60 s at cap 3 (0.6M pairs; Python
# peak RSS 0.33 GB) and 5.80-6.57 s against 9.85 s at cap 8 (2.1M pairs;
# 0.41 GB).
# Above it only the capped length collect is added: 0.32-0.44 s warm on
# 98,859 docs, from one file or four
LOCAL_MAX_SIGNATURES = 50_000

# largest signature table, in UTF-8 bytes of sig_text: the driver runs the
# band-key kernel on one thread, so its cost follows the bytes, not the
# rows. 1,250 docs of ~20 KB (25 MB, one file) 3.83-4.15 s against 8.74 s,
# Python peak RSS 0.23 GB; 2,472 such docs (50 MB) 9.4 s against 13.1 s
# from one file but 7.6 s against 7.8 s from four, whose four UDF tasks
# run in parallel. Above it (50 MB): 17.7/18.6 s against grouped's
# 16.9/18.3 s, the capped length collect alone 0.24-0.35 s
LOCAL_MAX_SIGNATURE_BYTES = 32 << 20

# largest pair count before dedup the driver path builds; above it the
# driver's band keys go to the grouped path, whose UDF does not run again.
# Set by driver memory, not time: at 10.3M pairs (50k docs, cap 60) the
# driver path took 9.1 s against grouped's 19.7 s but peaked at 0.84 GB
# Python RSS and 3.5 GB JVM RSS on the 3g heap; at 7.0M pairs Python
# peaked at 0.65 GB, at 4.3M at 0.49 GB. Above it (10.3M pairs) the
# fallback took 21.1-22.4 s against 19.7 s from four files (the driver's
# one-thread kernel against four UDF tasks), and from one file (33k docs,
# cap 35 with this bound set to 0) 13.0 s against 13.7 s
LOCAL_MAX_BLOCK_PAIRS = 8_000_000
