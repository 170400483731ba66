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

# largest candidates snapshot, in rows, that run_pipeline's logistic scored
# stage featurizes, fits and scores on the driver; above it the Spark path
# (the featurize UDF, then a capped collect into the same fit) runs. The
# stage also stays within LOCAL_MAX_SIGNATURES rows and
# LOCAL_MAX_SIGNATURE_BYTES bytes of signatures.
# Set by time: the driver runs the pair kernel on one thread (~6k pairs/s at
# the margin), the Spark path pays its jobs and the per-task UDF floor but
# runs the kernel in four tasks. Measured as the scored stage's wall
# (compute, write, commit; median of 4 warm runs) against the Spark path,
# local[4] on a 4-core host, 3g heap, resumed synth snapshots; peak RSS per
# fresh process, the driver JVM's and the driver Python's (the Spark path's
# Python workers not counted):
#   ~470-char signatures: 3,335 pairs 1.43 s against 2.34 s (Python 265 MB,
#   JVM 899 MB against 1,546 MB); 6,685 pairs 2.17 s against 2.74 s (362 MB;
#   846 against 1,166 MB); 11,359 pairs 3.44 s against 3.25 s (401 MB; 936
#   against 1,468 MB); 22,841 pairs 5.23 s against 4.05 s; 42,262 pairs 8.65 s
#   against 5.40 s (450 MB; 950 against 1,904 MB).
#   ~1,400-char signatures (the same texts tripled, so the same distinct
#   tokens): 3,531 pairs 1.32 s against 2.39 s (295 MB); 7,214 pairs 2.01 s
#   against 2.58 s (420 MB); 12,423 pairs 3.29 s against 3.06 s (462 MB);
#   24,024 pairs 5.22 s against 4.23 s; 46,305 pairs 8.99 s against 6.34 s
#   (515 MB; 1,022 against 2,586 MB).
#   ~20-22 KB signatures (every word w of the texts as w0 .. w39, so 40x the
#   length and the distinct tokens): 5,041 pairs 3.01 s against 4.73 s
#   (371 MB; 1,028 against 2,882 MB); 8,644 pairs 4.55 s against 5.51 s
#   (460 MB; 1,274 against 3,106 MB); 14,388 pairs 6.92 s against 8.02 s
#   (462 MB; 810 against 3,608 MB); 28,095 pairs 11.09 s against 13.74 s
#   (491 MB; 1,094 against 4,400 MB).
# The walls cross near 10k pairs on the first two profiles (interpolated
# 10.2k and 11k); on long texts the driver path is faster at every size
# measured (where the Spark path spends the extra time was not traced).
# The Python peak stays within ~0.5 GB and the JVM's is lower than the Spark
# path's at every size. The bound is the short-text crossover
LOCAL_MAX_SCORE_PAIRS = 10_000

# largest label table that stage collects, in one collect, to attach labels
# on the driver; above it the stage runs on Spark and collects nothing. The
# row count is the one run_pipeline's label digest already takes for the
# scored fingerprint, so the check costs no job. No other bound covers it: LOCAL_MAX_FIT_ROWS counts training rows,
# and label rows that match no candidate are collected too. Set by driver
# memory, not time. Measured as above on 3,335 pairs, the label table padded
# with rows that match no candidate: 537 labels 1.56 s against 2.41 s; +100k
# 1.66 s against 2.36 s (Python 273 MB); +1M 3.09 s against 4.42 s (Python
# 698 MB, JVM 1,585 MB against 2,227 MB, whose broadcast join collects the
# labels too); +3M 7.20 s against 9.17 s (Python 954 MB; JVM 1,989 against
# 3,428 MB)
LOCAL_MAX_LABEL_ROWS = 1_000_000
