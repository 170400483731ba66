"""Driver-contract queries: one per implemented operator (SURVEY.md §2),
each with an exact DuckDB oracle over the same parquet tables.

Design rules that keep the Spark result hash-equal to the oracle:

* alias every computed column identically on both sides;
* no float column leaves a query unrounded; aggregates that could differ
  by summation order are rounded to a precision far above double noise;
* timestamps are exported as epoch seconds (BIGINT) — engine-neutral;
* no array-typed output columns;
* deterministic tie-breaks (document/order ids) in every top-k / sample.

Spark side is idiomatic DataFrame API (Catalyst plans it; filters/projections
push to the parquet scan); the oracle is plain SQL. The ER-specific
operators run against the driver tables (documents/events) re-using the
same engine code paths (minhash UDF, block-join pair generation) as the
transcript pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

def _t(spark: SparkSession, sf_dir: str, name: str,
       fan: bool = False) -> DataFrame:
    """Read a driver table; ``fan=True`` additionally spreads a
    too-narrow scan across the cluster.

    The driver tables are single-row-group parquet files, so the scan
    (and every narrow op fused onto it — regex, tokenize, n-grams, the
    minhash UDF) runs as ONE task no matter the split config
    (row-group-midpoint assignment). ``fan=True`` repartitions such a
    scan to defaultParallelism before the per-row work (guide §2.5
    "input skew: one huge unsplittable file ... repartition immediately
    after the read"; measured 4.0s -> 0.6s for a full-corpus tokenize at
    50k docs x local[32]). Scale-adaptive: a real multi-file/multi-
    row-group table already scans wider than defaultParallelism and is
    left untouched, so this never adds a shuffle at cluster scale.

    Opt-in per query because the round-robin exchange is NOT free — it
    pays a local sort of the scan (sortBeforeRepartition, SPARK-23207)
    plus the shuffle itself, which measured as a net LOSS for queries
    whose first operation is already an aggregation/window with its own
    exchange and cheap narrow work (signature_build +0.32s, window_agg
    +1.2s, sessionize +0.7s at sf1-scale), and a net WIN where the
    fused per-row work dominates (minhash_lsh_dedup 10.9s -> 4.1s,
    embedding_cosine_topk -66%, text_quality/token_count -25%)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if fan:
        p = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < p:
            df = df.repartition(p)
    return df


_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ')"  # shared normalize (F9)


# ---------------------------------------------------------------------------
# Group 1 — reference operator parity (SURVEY.md §2.2-2.4, §2.7)
# ---------------------------------------------------------------------------

def q_signature_build(spark, sf_dir):
    """Turn-ordered signature build (SURVEY §2.8 'signature'): the per-row
    invariant op — collect_list sorted by an explicit key, never bare.
    Events stand in for transcript turns: user_id=conv_id, ts=turn order."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "user_id",
            F.struct("ts", "event_id", "event_type").alias("turn"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("turn")).alias("turns"))
        .select(
            "user_id",
            F.concat_ws(" ", F.transform("turns", lambda t: t["event_type"])).alias("sig"),
            F.size("turns").cast("long").alias("n_events"),
        )
    )


SQL_SIGNATURE_BUILD = """
SELECT user_id,
       string_agg(event_type, ' ' ORDER BY ts, event_id) AS sig,
       count(*) AS n_events
FROM events GROUP BY user_id
"""


def q_label_attach(spark, sf_dir):
    """P4/J3: candidates LEFT JOIN positives + coalesce(y,0)
    (reference script/model_magellan_ml.py:207-208)."""
    cust = _t(spark, sf_dir, "customer")
    labels = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("y", F.lit(1))
    )
    return (
        cust.join(F.broadcast(labels), "c_custkey", "left")
        .select("c_custkey", F.coalesce("y", F.lit(0)).alias("y"))
    )


SQL_LABEL_ATTACH = """
SELECT c.c_custkey, coalesce(l.y, 0) AS y
FROM customer c
LEFT JOIN (SELECT DISTINCT o_custkey AS c_custkey, 1 AS y
           FROM orders WHERE o_orderstatus = 'F') l USING (c_custkey)
"""


def q_anti_join_negatives(spark, sf_dir):
    """J2: entities not present in any positive match — left_anti
    (reference script/utilities.py:106-112)."""
    cust = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")
    return cust.join(
        ev.select(F.col("user_id").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


SQL_ANTI_JOIN_NEGATIVES = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
"""


def q_positive_pairs_join(spark, sf_dir):
    """J1: match table joined to both entity tables (two inner equi-joins,
    reference script/utilities.py:97-102)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            "s_name",
            F.round("o_totalprice", 2).alias("total"),
        )
    )


SQL_POSITIVE_PAIRS_JOIN = """
SELECT m.l_orderkey, m.l_suppkey, s.s_name, round(o.o_totalprice, 2) AS total
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) m
JOIN orders o ON m.l_orderkey = o.o_orderkey
JOIN supplier s ON m.l_suppkey = s.s_suppkey
"""


def q_dedup_exact(spark, sf_dir):
    """P2 + doc fingerprint: exact dedup by md5 of normalized text —
    hash-groupBy, the exact-dedup primitive for a 100 TB corpus."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "fp", "n_copies")
    )


SQL_DEDUP_EXACT = f"""
SELECT min(doc_id) AS doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       count(*) AS n_copies
FROM documents GROUP BY 2
"""


def q_token_overlap_block(spark, sf_dir):
    """F5: word-level token-overlap blocking >= k shared tokens as an
    inverted-index self-join (reference script/blocking_algorithms.py:34-53).

    Tokens with document frequency > 390 are dropped BEFORE the index join
    (the standard hot-token cap of set-similarity joins, same as the
    library operator's ``max_token_df``): a stopword token in k docs emits
    C(k,2) join rows before any filter — quadratic at scale. The cap is
    exercised at sf0.01 (~half the vocabulary is hot), so the oracle match
    proves the cap semantics, not just the join."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("tok"),
    )
    keep = (
        toks.groupBy("tok").agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 390).select("tok")
    )
    toks = toks.join(F.broadcast(keep), "tok")
    a = toks.select(F.col("tok"), F.col("doc_id").alias("id_a"))
    b = toks.select(F.col("tok"), F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_tokens"))
        .filter(F.col("shared_tokens") >= 15)
    )


SQL_TOKEN_OVERLAP_BLOCK = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
  FROM documents),
keep AS (SELECT tok FROM toks GROUP BY tok HAVING count(*) <= 390),
t AS (SELECT doc_id, tok FROM toks WHERE tok IN (SELECT tok FROM keep))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_tokens
FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 15
"""


def q_two_table_block(spark, sf_dir):
    """Two-table (lhs x rhs) blocking — the reference's primary mode: every
    experiment blocks Amazon x Google and keeps only cross-table pairs
    (reference script/blocking_algorithms.py:149-172,
    model_magellan_ml.py:183-193). Exercises the LIBRARY operator
    ``token_overlap_block(signatures, signatures_rhs=...)``: lhs = sources
    src0-src9, rhs = src10-src19; only cross-side pairs, orientation
    preserved (id_a from lhs), hot tokens (df > 390 across BOTH sides)
    dropped before the index join."""
    from neural_entity_matching_spark.operators.blocking import (
        token_overlap_block,
    )

    docs = _t(spark, sf_dir, "documents", fan=True)
    lhs = docs.filter(F.length("source") == 4)
    rhs = docs.filter(F.length("source") == 5)
    pairs, _stats = token_overlap_block(
        lhs, min_shared_tokens=15, text_col="text", id_col="doc_id",
        max_token_df=390, signatures_rhs=rhs,
    )
    return pairs.select(F.col("conv_id_a").alias("id_a"),
                        F.col("conv_id_b").alias("id_b"))


SQL_TWO_TABLE_BLOCK = """
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
  FROM documents),
keep AS (SELECT tok FROM toks GROUP BY tok HAVING count(*) <= 390),
ta AS (SELECT doc_id, tok FROM toks
       WHERE length(source) = 4 AND tok IN (SELECT tok FROM keep)),
tb AS (SELECT doc_id, tok FROM toks
       WHERE length(source) = 5 AND tok IN (SELECT tok FROM keep))
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM ta a JOIN tb b ON a.tok = b.tok
GROUP BY 1, 2 HAVING count(*) >= 15
"""


def q_pair_features(spark, sf_dir):
    """F7/M1 feature vector parity: the FULL north-star pair-feature table
    (batched Jaro-Winkler + Levenshtein ratio + TF-IDF cosine + jaccard +
    length) produced by the LIBRARY featurizer ``featurize_pairs`` — the
    exact columns the ML matcher trains on (reference Magellan auto
    features, model_magellan_ml.py:84,98-100). Pairs = same-source block.
    Per-row arithmetic (lev/jaccard/len/JW) is emitted UNROUNDED — both
    engines produce bit-identical IEEE doubles (JW verified bit-exact vs
    DuckDB's jaro_winkler_similarity); only the TF-IDF dot, a float SUM
    with engine-dependent order, is rounded."""
    from neural_entity_matching_spark.operators.scoring import featurize_pairs

    docs = _t(spark, sf_dir, "documents")
    sigs = docs.select(F.col("doc_id").alias("conv_id"),
                       F.col("text").alias("sig_text"))
    d = docs.select("doc_id", "source")
    # ORACLE-HARNESS ONLY: all-pairs within a fixed-cardinality source
    # block, chosen because DuckDB can replicate it exactly. The
    # production candidate path is LSH blocking (operators/blocking.py
    # lsh_block) — never copy this quadratic same-source self-join into a
    # scale path (see round-1 ngram_jaccard lesson).
    cands = (
        d.select(F.col("source"), F.col("doc_id").alias("conv_id_a"))
        .join(d.select(F.col("source"), F.col("doc_id").alias("conv_id_b")),
              "source")
        .filter(F.col("conv_id_a") < F.col("conv_id_b"))
        .select("conv_id_a", "conv_id_b")
    )
    feats = featurize_pairs(cands, sigs, with_jaro_winkler=True,
                            with_tfidf=True)
    return feats.select(
        F.col("conv_id_a").alias("id_a"),
        F.col("conv_id_b").alias("id_b"),
        "lev_ratio", "token_jaccard", "len_ratio", "jaro_winkler",
        F.round("tfidf_cosine", 4).alias("tfidf_cosine"),
    )


SQL_PAIR_FEATURES = """
WITH docs AS (SELECT doc_id, source, text FROM documents),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
  FROM docs a JOIN docs b ON a.source = b.source AND a.doc_id < b.doc_id),
tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM docs) WHERE length(tok) > 0
  GROUP BY 1, 2),
idf AS (
  SELECT tok, ln(1.0 + (SELECT count(*) FROM docs)::DOUBLE / count(*)) AS idf
  FROM tf GROUP BY tok),
w AS (SELECT tf.doc_id, tf.tok, tf.tf * idf.idf AS w FROM tf JOIN idf USING (tok)),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
dots AS (
  SELECT p.id_a, p.id_b, sum(a.w * b.w) AS dot
  FROM pairs p JOIN w a ON a.doc_id = p.id_a JOIN w b ON b.doc_id = p.id_b
                       AND a.tok = b.tok
  GROUP BY 1, 2)
SELECT p.id_a, p.id_b,
  100.0 * (1.0 - levenshtein(substr(p.ta, 1, 512), substr(p.tb, 1, 512))
           / greatest(length(substr(p.ta, 1, 512)), length(substr(p.tb, 1, 512)), 1))
    AS lev_ratio,
  len(list_intersect(list_distinct(string_split_regex(trim(p.ta), '\\s+')),
                     list_distinct(string_split_regex(trim(p.tb), '\\s+'))))
  / len(list_distinct(list_concat(list_distinct(string_split_regex(trim(p.ta), '\\s+')),
                                  list_distinct(string_split_regex(trim(p.tb), '\\s+')))))
    AS token_jaccard,
  least(length(p.ta), length(p.tb)) / greatest(length(p.ta), length(p.tb), 1)
    AS len_ratio,
  jaro_winkler_similarity(p.ta, p.tb) AS jaro_winkler,
  round(coalesce(coalesce(d.dot, 0.0) / (na.nrm * nb.nrm), 0.0), 4) AS tfidf_cosine
FROM pairs p
LEFT JOIN dots d ON d.id_a = p.id_a AND d.id_b = p.id_b
LEFT JOIN norms na ON na.doc_id = p.id_a
LEFT JOIN norms nb ON nb.doc_id = p.id_b
"""


def q_pair_features_banded(spark, sf_dir):
    """F7 banded pair features, all JVM expressions: lev_ratio from
    Spark's banded ``levenshtein(a, b, k)`` over the first 512 chars with
    k = floor(0.2 * maxlen) — the exact ratio for pairs whose edit
    distance is within k, the deterministic upper bound
    100*(1-(k+1)/maxlen) beyond it — plus the string-token jaccard and
    length ratio of similarity.py. The oracle computes the FULL DuckDB
    levenshtein and applies the identical band/clamp arithmetic — every
    float expression matches term for term, so the hash compares
    unrounded doubles."""
    from neural_entity_matching_spark.functions.similarity import (
        len_ratio,
        token_jaccard,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # same oracle-harness-only quadratic block as q_pair_features
    pairs = (
        d.select("source", F.col("doc_id").alias("id_a"),
                 F.col("text").alias("ta"))
        .join(d.select("source", F.col("doc_id").alias("id_b"),
                       F.col("text").alias("tb")), "source")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return (
        pairs
        .withColumn("_la", F.substring("ta", 1, 512))
        .withColumn("_lb", F.substring("tb", 1, 512))
        .withColumn("_maxlen",
                    F.greatest(F.length("_la"), F.length("_lb"), F.lit(1)))
        .withColumn("_k", F.floor(F.lit(0.2) * F.col("_maxlen")).cast("int"))
        # SQL form: the banded threshold argument is only accepted as an
        # expression through the SQL function
        .withColumn("_d", F.expr("levenshtein(_la, _lb, greatest(_k, 0))"))
        .select(
            "id_a", "id_b",
            F.when(F.col("_d") >= 0,
                   100.0 * (1.0 - F.col("_d") / F.col("_maxlen")))
             .otherwise(100.0 * (1.0 - (F.col("_k") + 1) / F.col("_maxlen")))
             .alias("lev_ratio"),
            token_jaccard(F.col("ta"), F.col("tb")).alias("token_jaccard"),
            len_ratio(F.col("ta"), F.col("tb")).alias("len_ratio"),
        )
    )


SQL_PAIR_FEATURES_BANDED = """
WITH pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         substr(a.text, 1, 512) AS la, substr(b.text, 1, 512) AS lb,
         a.text AS ta, b.text AS tb
  FROM documents a JOIN documents b
    ON a.source = b.source AND a.doc_id < b.doc_id),
geom AS (
  SELECT *, greatest(length(la), length(lb), 1) AS maxlen,
         cast(floor(0.2 * greatest(length(la), length(lb), 1)) AS INTEGER)
           AS k,
         levenshtein(la, lb) AS d
  FROM pairs)
SELECT id_a, id_b,
  CASE WHEN d <= k THEN 100.0 * (1.0 - d / maxlen)
       ELSE 100.0 * (1.0 - (k + 1) / maxlen) END AS lev_ratio,
  len(list_intersect(list_distinct(string_split_regex(trim(ta), '\\s+')),
                     list_distinct(string_split_regex(trim(tb), '\\s+'))))
  / len(list_distinct(list_concat(
        list_distinct(string_split_regex(trim(ta), '\\s+')),
        list_distinct(string_split_regex(trim(tb), '\\s+')))))
    AS token_jaccard,
  least(length(ta), length(tb)) / greatest(length(ta), length(tb), 1)
    AS len_ratio
FROM geom
"""


def q_edit_distance_block(spark, sf_dir):
    """F1/F6: edit-distance blackbox blocking (reference
    script/utilities.py:492-502 thresholds an edit similarity;
    blocking_algorithms.py:58-80 applies it as a pair predicate) over a
    small broadcastable dim table — all pairs, JVM levenshtein <= 1."""
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    a = supp.select(F.col("s_suppkey").alias("id_a"), F.col("s_name").alias("name_a"))
    b = supp.select(F.col("s_suppkey").alias("id_b"), F.col("s_name").alias("name_b"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 1)
        .select("id_a", "id_b", "dist")
    )


SQL_EDIT_DISTANCE_BLOCK = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       levenshtein(a.s_name, b.s_name) AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
"""


def q_seeded_sample(spark, sf_dir):
    """A1: deterministic seeded 'sample without replacement' — order by a
    content hash, take n (reference pd.sample(random_state) semantics,
    script/utilities.py:49-59, made partition-invariant)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.md5(F.col("o_orderkey").cast("string")).alias("h"))
        .orderBy("h", "o_orderkey")
        .limit(100)
        .select("o_orderkey")
    )


SQL_SEEDED_SAMPLE = """
SELECT o_orderkey FROM orders
ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 100
"""


def q_quantile_cutoffs(spark, sf_dir):
    """A3: difficulty cutoffs via exact percentiles per stratum
    (reference script/utilities.py:188-189 np.quantile)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.2)), 4).alias("q20"),
        F.round(F.percentile("o_totalprice", F.lit(0.8)), 4).alias("q80"),
    )


SQL_QUANTILE_CUTOFFS = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.2), 4) AS q20,
       round(quantile_cont(o_totalprice, 0.8), 4) AS q80
FROM orders GROUP BY 1
"""


def q_group_stats(spark, sf_dir):
    """A7: group-agg mean/std (reference analyse_results.ipynb cells 5,7)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
        F.count("*").alias("n"),
    )


SQL_GROUP_STATS = """
SELECT c_mktsegment, round(avg(c_acctbal), 4) AS avg_bal,
       round(stddev_samp(c_acctbal), 4) AS sd_bal, count(*) AS n
FROM customer GROUP BY 1
"""


def q_topk_per_group(spark, sf_dir):
    """A7 nlargest analogue: top-3 orders per priority, deterministic
    tie-break on key."""
    orders = _t(spark, sf_dir, "orders", fan=True)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rn")
    )


SQL_TOPK_PER_GROUP = """
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS total, rn
FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
"""


def q_missed_positive_adjust(spark, sf_dir):
    """E3: blocker-missed positives appended with score 0 before metrics
    (reference script/evaluation_functions.py:241-255)."""
    orders = _t(spark, sf_dir, "orders")
    scored = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        # pure per-row division: IEEE-identical in every engine, no rounding
        (F.col("o_totalprice") / 100000.0).alias("score"),
        (F.col("o_totalprice") > 150000).cast("int").alias("is_match"),
    )
    truth = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    missed = (
        truth.join(scored, "o_orderkey", "left_anti")
        .withColumn("score", F.lit(0.0))
        .withColumn("is_match", F.lit(0))
    )
    return scored.unionByName(missed)


SQL_MISSED_POSITIVE_ADJUST = """
WITH scored AS (
  SELECT o_orderkey, o_totalprice / 100000.0 AS score,
         CAST(o_totalprice > 150000 AS INT) AS is_match
  FROM orders WHERE o_orderstatus = 'F')
SELECT * FROM scored
UNION ALL
SELECT o_orderkey, 0.0 AS score, 0 AS is_match
FROM orders o WHERE o_orderpriority = '1-URGENT'
  AND NOT EXISTS (SELECT 1 FROM scored s WHERE s.o_orderkey = o.o_orderkey)
"""


def q_blocking_metrics(spark, sf_dir):
    """E1 + E2 without materializing pairs: recall = |truth ∩ cand|/|truth|,
    prune = 1 - cand/(n(n-1)/2) (reference script/evaluation_functions.py:
    96-125,39-44), computed from group sizes — candidate blocks = same
    source, truth = same n_chars."""
    docs = _t(spark, sf_dir, "documents")

    def pair_count(df, *cols):
        return (
            df.groupBy(*cols)
            .agg(F.count("*").alias("m"))
            .agg(F.sum(F.expr("m * (m - 1) / 2")).cast("long").alias("p"))
        )

    n = docs.count()
    cand = pair_count(docs, "source").collect()[0]["p"] or 0
    truth = pair_count(docs, "n_chars").collect()[0]["p"] or 0
    inter = pair_count(docs, "source", "n_chars").collect()[0]["p"] or 0
    max_pairs = n * (n - 1) / 2
    return spark.createDataFrame(
        [(round(inter / truth, 6) if truth else 1.0,
          round(1.0 - cand / max_pairs, 6) if max_pairs else 1.0,
          int(truth), int(cand))],
        "recall double, prune_rate double, truth_pairs long, cand_pairs long",
    )


SQL_BLOCKING_METRICS = """
WITH n AS (SELECT count(*) AS n FROM documents),
cand AS (SELECT CAST(sum(m*(m-1)/2) AS BIGINT) AS p FROM
         (SELECT count(*) AS m FROM documents GROUP BY source)),
truth AS (SELECT CAST(sum(m*(m-1)/2) AS BIGINT) AS p FROM
          (SELECT count(*) AS m FROM documents GROUP BY n_chars)),
inter AS (SELECT CAST(coalesce(sum(m*(m-1)/2), 0) AS BIGINT) AS p FROM
          (SELECT count(*) AS m FROM documents GROUP BY source, n_chars))
SELECT round(inter.p::DOUBLE / truth.p, 6) AS recall,
       round(1.0 - cand.p::DOUBLE / (n.n * (n.n - 1) / 2), 6) AS prune_rate,
       truth.p AS truth_pairs, cand.p AS cand_pairs
FROM n, cand, truth, inter
"""


# ---------------------------------------------------------------------------
# Group 2 — training-data pipeline operators (dedup / ANN / text analysis)
# ---------------------------------------------------------------------------

def q_ngram_jaccard_dedup(spark, sf_dir):
    """Char 3-gram Jaccard near-dup detection within a cheap block (same
    source) — the n-gram-Jaccard dedup primitive, all JVM array ops."""
    from neural_entity_matching_spark.operators.dedup import ngram_jaccard_dedup

    docs = _t(spark, sf_dir, "documents", fan=True)
    return ngram_jaccard_dedup(docs, block_col="source", n=3, threshold=0.6)


SQL_NGRAM_JACCARD_DEDUP = """
WITH g AS (SELECT doc_id, source,
           list_distinct(list_transform(generate_series(1, greatest(length(text)-2, 1)),
                         i -> substr(text, i, 3))) AS t
           FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.t, b.t))::DOUBLE /
             len(list_distinct(list_concat(a.t, b.t))), 6) AS jacc
FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.t, b.t))::DOUBLE /
      len(list_distinct(list_concat(a.t, b.t))) >= 0.6
"""


def q_minhash_lsh_dedup(spark, sf_dir):
    """MinHash-LSH near-dup detection (F3/F4/J6): seeded minhash band keys
    (the same vectorized UDF the transcript pipeline uses) generate
    candidates; exact char-5-gram Jaccard >= 0.4 verifies them. The oracle
    is the brute-force O(n^2) join — LSH at r=4,b=16 has p(detect) ~ 1 at
    the observed dup similarity (all true pairs >= 0.92; bulk <= 0.31),
    so candidates ⊇ true pairs and verification makes the result exact.
    Note the verify step trims the text exactly as the fingerprint does."""
    from neural_entity_matching_spark.operators.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents", fan=True).withColumn("text", F.trim("text"))
    pairs, _stats = minhash_lsh_dedup(
        docs, num_hashes=64, bands=16, char_ngram=5, seed=42,
        threshold=0.4, block_cap=1000,
    )
    return pairs


SQL_MINHASH_LSH_DEDUP = """
WITH g AS (SELECT doc_id,
           list_distinct(list_transform(generate_series(1, greatest(length(trim(text))-4, 1)),
                         i -> substr(trim(text), i, 5))) AS t
           FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.t, b.t))::DOUBLE /
             len(list_distinct(list_concat(a.t, b.t))), 6) AS jacc
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.t, b.t))::DOUBLE /
      len(list_distinct(list_concat(a.t, b.t))) >= 0.4
"""


def q_cross_corpus_dedup(spark, sf_dir):
    """Decontamination (training-data addendum): near-dup pairs ACROSS two
    corpora — lhs = sources src0-src9 (the 'training' docs), rhs =
    src10-src19 (the 'held-out' reference). Candidates from the two-table
    MinHash-LSH join; exact char-5-gram Jaccard >= 0.4 verifies. Oracle =
    brute-force cross join: every true cross pair sits at jaccard >= 0.92
    where LSH r=4,b=16 detection probability is 1-1e-10, so candidates ⊇
    truth and verification makes the result exact."""
    from neural_entity_matching_spark.operators.dedup import cross_corpus_dedup

    docs = _t(spark, sf_dir, "documents", fan=True).withColumn("text", F.trim("text"))
    lhs = docs.filter(F.length("source") == 4)
    rhs = docs.filter(F.length("source") == 5)
    pairs, _stats = cross_corpus_dedup(
        lhs, rhs, num_hashes=64, bands=16, char_ngram=5, seed=42,
        threshold=0.4, block_cap=1000,
    )
    return pairs


SQL_CROSS_CORPUS_DEDUP = """
WITH g AS (SELECT doc_id, source,
           list_distinct(list_transform(generate_series(1, greatest(length(trim(text))-4, 1)),
                         i -> substr(trim(text), i, 5))) AS t
           FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.t, b.t))::DOUBLE /
             len(list_distinct(list_concat(a.t, b.t))), 6) AS jacc
FROM g a JOIN g b ON length(a.source) = 4 AND length(b.source) = 5
WHERE len(list_intersect(a.t, b.t))::DOUBLE /
      len(list_distinct(list_concat(a.t, b.t))) >= 0.4
"""


def q_tfidf_cosine_pairs(spark, sf_dir):
    """TF-IDF cosine similarity between same-source doc pairs — pure
    DataFrame ops (explode -> tf -> df -> idf -> weight join -> dot/norms),
    no UDF; the distributed form of Magellan's cosine feature (F7)."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    toks = docs.select(
        "doc_id", "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "source", "tok").agg(F.count("*").alias("tf"))
    # N folds into the lazy plan as a broadcast 1-row aggregate — no
    # separate eager count() job per invocation
    n_row = docs.agg(F.count("*").cast("double").alias("_n"))
    idf = (
        tf.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_row))
        .withColumn("idf", F.log(F.lit(1.0) + F.col("_n") / F.col("df")))
        .drop("_n")
    )
    # hot-token cap (df > 390 across the corpus): a stopword token in k
    # docs emits C(k,2) rows in the dots join below — quadratic at scale.
    # Dropping it from the representation (weights AND norms) is the
    # standard df-cap of distributed TF-IDF joins; exercised at sf0.01.
    w = (
        tf.join(F.broadcast(idf), "tok")
        .filter(F.col("df") <= 390)
        .withColumn("w", F.col("tf") * F.col("idf"))
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    a = w.select("tok", "source", F.col("doc_id").alias("id_a"), F.col("w").alias("wa"))
    b = w.select("tok", "source", F.col("doc_id").alias("id_b"), F.col("w").alias("wb"))
    dots = (
        a.join(b, ["tok", "source"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    return (
        dots.join(norms.withColumnRenamed("doc_id", "id_a").withColumnRenamed("norm", "na"), "id_a")
        .join(norms.withColumnRenamed("doc_id", "id_b").withColumnRenamed("norm", "nb"), "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias("cos_sim"),
        )
    )


SQL_TFIDF_COSINE_PAIRS = """
WITH tf AS (
  SELECT doc_id, source, tok, count(*) AS tf
  FROM (SELECT doc_id, source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY 1, 2, 3),
idf AS (
  SELECT tok, count(DISTINCT doc_id) AS df,
         ln(1.0 + (SELECT count(*) FROM documents)::DOUBLE / count(DISTINCT doc_id)) AS idf
  FROM tf GROUP BY tok),
w AS (SELECT tf.doc_id, tf.source, tf.tok, tf.tf * idf.idf AS w
      FROM tf JOIN idf USING (tok) WHERE idf.df <= 390),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT d.id_a, d.id_b, round(d.dot / (na.norm * nb.norm), 4) AS cos_sim
FROM dots d JOIN norms na ON d.id_a = na.doc_id JOIN norms nb ON d.id_b = nb.doc_id
"""


def q_embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline over the embedding column:
    JVM zip_with/aggregate dot products (sequential fold — bit-identical
    to the oracle's list_dot_product), deterministic (rounded score, id)
    tie-break. The LSH-bucketed scale path lives in operators/ann.py."""
    emb = _t(spark, sf_dir, "embeddings", fan=True).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    dot = "aggregate(zip_with({0}, {1}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    with_norm = emb.withColumn("nrm", F.expr("sqrt(" + dot.format("e", "e") + ")"))
    q = with_norm.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    pairs = (
        F.broadcast(q).crossJoin(
            with_norm.select(F.col("vec_id").alias("nn_id"), F.col("e").alias("ne"),
                             F.col("nrm").alias("nn"))
        )
        .filter(F.col("q_id") != F.col("nn_id"))
        .withColumn("cos_sim", F.round(F.expr(dot.format("qe", "ne")) / (F.col("qn") * F.col("nn")), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("nn_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "nn_id", "cos_sim", "rank")
    )


SQL_EMBEDDING_COSINE_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM e),
p AS (SELECT q.vec_id AS q_id, x.vec_id AS nn_id,
             round(list_dot_product(q.e, x.e) / (q.nrm * x.nrm), 6) AS cos_sim
      FROM n q JOIN n x ON q.vec_id < 10 AND q.vec_id != x.vec_id)
SELECT q_id, nn_id, cos_sim, rank FROM
(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, nn_id) AS rank FROM p)
WHERE rank <= 3
"""


def q_text_quality(spark, sf_dir):
    """Text quality scoring: token count, distinct-token ratio, average
    token length, composite score — per-doc, all JVM expressions."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    d = docs.select("doc_id", norm.alias("t")).select(
        "doc_id",
        F.size(F.split("t", " ")).alias("n_tokens"),
        F.size(F.array_distinct(F.split("t", " "))).alias("n_distinct"),
        F.length(F.regexp_replace("t", " ", "")).alias("n_letter_chars"),
    )
    return d.select(
        "doc_id", "n_tokens",
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
        F.round(F.col("n_letter_chars") / F.col("n_tokens"), 6).alias("avg_token_len"),
        F.round(
            F.least(F.lit(1.0), F.col("n_tokens") / 50.0)
            * (F.col("n_distinct") / F.col("n_tokens")),
            6,
        ).alias("quality_score"),
    )


SQL_TEXT_QUALITY = f"""
WITH d AS (
  SELECT doc_id,
         len(string_split({_NORM}, ' ')) AS n_tokens,
         len(list_distinct(string_split({_NORM}, ' '))) AS n_distinct,
         length(replace({_NORM}, ' ', '')) AS n_letter_chars
  FROM documents)
SELECT doc_id, n_tokens,
       round(n_distinct::DOUBLE / n_tokens, 6) AS distinct_ratio,
       round(n_letter_chars::DOUBLE / n_tokens, 6) AS avg_token_len,
       round(least(1.0, n_tokens / 50.0) * (n_distinct::DOUBLE / n_tokens), 6) AS quality_score
FROM d
"""


_LEXICON = ["key", "agg", "row", "scan", "table", "value", "part", "hash",
            "join", "order", "group", "data", "query", "column", "line"]


def q_lang_id(spark, sf_dir):
    """Heuristic language ID: fraction of tokens found in a fixed lexicon
    (the n-gram/stopword-ratio heuristic, lexicon frozen)."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    lex = F.array(*[F.lit(w) for w in _LEXICON])
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    ratio = F.size(F.array_intersect(F.array_distinct(toks), lex)) / F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        F.round(ratio, 6).alias("lex_ratio"),
        F.when(ratio >= 0.3, F.lit("en")).otherwise(F.lit("unk")).alias("lang_pred"),
    )


SQL_LANG_ID = f"""
WITH d AS (
  SELECT doc_id,
         len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
             {_LEXICON!r}))::DOUBLE /
         len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS r
  FROM documents)
SELECT doc_id, round(r, 6) AS lex_ratio,
       CASE WHEN r >= 0.3 THEN 'en' ELSE 'unk' END AS lang_pred
FROM d
"""


def q_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex pieces
    ([a-z]+|[0-9]+|single other char) per source."""
    docs = _t(spark, sf_dir, "documents", fan=True)
    pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    d = docs.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("ws"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(pat), F.lit(0))).alias("bpe"),
    )
    return d.groupBy("source").agg(
        F.sum("ws").alias("ws_tokens"),
        F.sum("bpe").alias("bpe_tokens"),
        F.count("*").alias("n_docs"),
    )


SQL_TOKEN_COUNT = """
SELECT source,
       CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS bpe_tokens,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""


def q_sessionize(spark, sf_dir):
    """Sessionization: new session when the gap to the previous event
    exceeds 30 min — lag + running sum windows (the batch form of
    streaming session windows)."""
    # parquet ts is TIMESTAMP_NTZ; cast via LTZ (session tz is UTC) to get
    # epoch seconds with sub-second precision, matching DuckDB epoch()
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").cast("double").alias("tsd"),
    )
    w = Window.partitionBy("user_id").orderBy("tsd", "event_id")
    sess = (
        ev.withColumn("gap", F.col("tsd") - F.lag("tsd").over(w))
        .withColumn("new_s", F.when(F.col("gap") > 1800, 1).otherwise(0))
        .withColumn("session_id", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )
    return sess.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
              (PARTITION BY user_id ORDER BY epoch(ts), event_id) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events)
SELECT user_id, CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY 1
"""


def q_window_agg(spark, sf_dir):
    """5-minute tumbling-window aggregation — the streaming-compatible op
    (F.window is the exact construct the readStream path uses; here run
    in batch so the oracle can check it)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp").cast("long").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


SQL_WINDOW_AGG = """
SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_price_normalize(spark, sf_dir):
    """F8 generalization: per-column normalizer (strip 'Brand#', cast,
    currency x1.5 — reference script/correct_gbp.R:8-11)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_replace("p_brand", "Brand#", "").cast("int").alias("brand_num"),
        F.round(F.col("p_retailprice") * 1.5, 2).alias("usd_price"),
    )


SQL_PRICE_NORMALIZE = """
SELECT p_partkey, CAST(regexp_replace(p_brand, 'Brand#', '') AS INT) AS brand_num,
       round(p_retailprice * 1.5, 2) AS usd_price
FROM part
"""


def q_sequential_cascade(spark, sf_dir):
    """The reference's SEQUENTIAL blocking mode end-to-end: cheap
    token-overlap blocker first, edit-distance predicate on the survivors
    only (reference script/model_magellan_ml.py:189-191 — overlap
    candidates, then calculate_edit_block_bool, utilities.py:492-502;
    grid cutoffs {50,60,70,80}).

    Exercises the LIBRARY two-stage cascade: ``token_overlap_block`` (>=15
    shared tokens, df cap 390 — same operating point as
    q_token_overlap_block) -> ``edit_distance_filter`` at cutoff 32, which
    at sf0.01 splits the 2,352 candidates 1,053 / 1,299 right at the bulk
    of the ratio distribution (median 31.7) — both engines must agree on
    the full levenshtein for every candidate near the boundary. The ratio
    is a per-row arithmetic double (unrounded comparison, bit-identical
    across engines); only ids are emitted, as the reference's boolean
    predicate does.

    Normalization note: this query (and its oracle) use lev_ratio
    (levenshtein/max_len); the reference's calculate_edit_block_bool
    thresholds the INDEL ratio (fuzz.ratio, substitutions cost 2), so the
    same cutoff values select different survivor sets than the reference.
    ``edit_distance_filter(metric='indel')`` provides the bit-exact
    reference formula — see its docstring."""
    from neural_entity_matching_spark.operators.blocking import (
        edit_distance_filter,
        token_overlap_block,
    )

    docs = _t(spark, sf_dir, "documents", fan=True)
    cands, _stats = token_overlap_block(
        docs, min_shared_tokens=15, text_col="text", id_col="doc_id",
        max_token_df=390,
    )
    survivors = edit_distance_filter(
        cands, docs, cutoff_ratio=32.0, id_col="doc_id", text_col="text",
    )
    return survivors.select(F.col("conv_id_a").alias("id_a"),
                            F.col("conv_id_b").alias("id_b"))


SQL_SEQUENTIAL_CASCADE = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
  FROM documents),
keep AS (SELECT tok FROM toks GROUP BY tok HAVING count(*) <= 390),
t AS (SELECT doc_id, tok FROM toks WHERE tok IN (SELECT tok FROM keep)),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 15)
SELECT c.id_a, c.id_b
FROM cand c JOIN documents da ON da.doc_id = c.id_a
            JOIN documents db ON db.doc_id = c.id_b
WHERE 100.0 * (1.0 - levenshtein(da.text, db.text)::DOUBLE
               / greatest(length(da.text), length(db.text), 1)) >= 32.0
"""


def q_pair_ingest(spark, sf_dir):
    """Pair-format ingestion (reference Quora loader,
    script/utilities.py:444-471): a labeled pair-per-row table is split
    into two entity tables + a positive-match table by the LIBRARY op
    ``sources.pair_ingest.split_pair_table``; output re-joins the match
    table to both entity tables (the loader's EM_Data shape).

    The pair file is synthesized deterministically from ``documents``:
    same-source doc pairs at id distance <= 60 (doc_ids within a source
    stride by n_sources=20, so this pairs each doc with its 3 nearest
    same-source neighbors — thousands of rows at sf0.01), labeled
    positive iff the id distance is exactly one stride (20) — so ~1/3
    of pairs are positive, exercising dedup-to-entity (docs appear in
    MANY pairs) and the label filter with non-trivial row counts on
    both sides. (The previous parity label (qid1+qid2)%2 was always 0
    on stride-20 ids — the round-3 'vacuous oracle' bug.)"""
    from neural_entity_matching_spark.sources.pair_ingest import (
        split_pair_table,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    a = docs.select(F.col("source"), F.col("doc_id").alias("qid1"),
                    F.col("text").alias("question1"))
    b = docs.select(F.col("source"), F.col("doc_id").alias("qid2"),
                    F.col("text").alias("question2"))
    pair_file = (
        a.join(b, "source")
        .filter((F.col("qid1") < F.col("qid2"))
                & (F.col("qid2") - F.col("qid1") <= 60))
        .withColumn("is_duplicate",
                    (F.col("qid2") - F.col("qid1") == 20).cast("int"))
        .select("qid1", "qid2", "question1", "question2", "is_duplicate")
    )
    lhs, rhs, matches = split_pair_table(pair_file)
    return (
        matches
        .join(lhs.select(F.col("id").alias("id_a"),
                         F.length("text").alias("len_a")), "id_a")
        .join(rhs.select(F.col("id").alias("id_b"),
                         F.length("text").alias("len_b")), "id_b")
        .select("id_a", "id_b", "len_a", "len_b")
    )


SQL_PAIR_INGEST = """
WITH pairs AS (
  SELECT a.doc_id AS qid1, b.doc_id AS qid2,
         a.text AS question1, b.text AS question2,
         CAST(b.doc_id - a.doc_id = 20 AS INT) AS is_duplicate
  FROM documents a JOIN documents b
    ON a.source = b.source AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 60),
lhs AS (SELECT qid1 AS id, min(question1) AS text FROM pairs GROUP BY qid1),
rhs AS (SELECT qid2 AS id, min(question2) AS text FROM pairs GROUP BY qid2),
m AS (SELECT DISTINCT qid1 AS id_a, qid2 AS id_b FROM pairs WHERE is_duplicate = 1)
SELECT m.id_a, m.id_b, length(l.text) AS len_a, length(r.text) AS len_b
FROM m JOIN lhs l ON l.id = m.id_a JOIN rhs r ON r.id = m.id_b
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "signature_build": q_signature_build,
    "label_attach": q_label_attach,
    "anti_join_negatives": q_anti_join_negatives,
    "positive_pairs_join": q_positive_pairs_join,
    "dedup_exact": q_dedup_exact,
    "token_overlap_block": q_token_overlap_block,
    "two_table_block": q_two_table_block,
    "pair_features": q_pair_features,
    "pair_features_banded": q_pair_features_banded,
    "edit_distance_block": q_edit_distance_block,
    "sequential_cascade": q_sequential_cascade,
    "pair_ingest": q_pair_ingest,
    "seeded_sample": q_seeded_sample,
    "quantile_cutoffs": q_quantile_cutoffs,
    "group_stats": q_group_stats,
    "topk_per_group": q_topk_per_group,
    "missed_positive_adjust": q_missed_positive_adjust,
    "blocking_metrics": q_blocking_metrics,
    "ngram_jaccard_dedup": q_ngram_jaccard_dedup,
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "cross_corpus_dedup": q_cross_corpus_dedup,
    "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
    "embedding_cosine_topk": q_embedding_cosine_topk,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "token_count": q_token_count,
    "sessionize": q_sessionize,
    "window_agg": q_window_agg,
    "price_normalize": q_price_normalize,
}

ORACLES = {
    "signature_build": SQL_SIGNATURE_BUILD,
    "label_attach": SQL_LABEL_ATTACH,
    "anti_join_negatives": SQL_ANTI_JOIN_NEGATIVES,
    "positive_pairs_join": SQL_POSITIVE_PAIRS_JOIN,
    "dedup_exact": SQL_DEDUP_EXACT,
    "token_overlap_block": SQL_TOKEN_OVERLAP_BLOCK,
    "two_table_block": SQL_TWO_TABLE_BLOCK,
    "pair_features": SQL_PAIR_FEATURES,
    "pair_features_banded": SQL_PAIR_FEATURES_BANDED,
    "edit_distance_block": SQL_EDIT_DISTANCE_BLOCK,
    "sequential_cascade": SQL_SEQUENTIAL_CASCADE,
    "pair_ingest": SQL_PAIR_INGEST,
    "seeded_sample": SQL_SEEDED_SAMPLE,
    "quantile_cutoffs": SQL_QUANTILE_CUTOFFS,
    "group_stats": SQL_GROUP_STATS,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "missed_positive_adjust": SQL_MISSED_POSITIVE_ADJUST,
    "blocking_metrics": SQL_BLOCKING_METRICS,
    "ngram_jaccard_dedup": SQL_NGRAM_JACCARD_DEDUP,
    "minhash_lsh_dedup": SQL_MINHASH_LSH_DEDUP,
    "cross_corpus_dedup": SQL_CROSS_CORPUS_DEDUP,
    "tfidf_cosine_pairs": SQL_TFIDF_COSINE_PAIRS,
    "embedding_cosine_topk": SQL_EMBEDDING_COSINE_TOPK,
    "text_quality": SQL_TEXT_QUALITY,
    "lang_id": SQL_LANG_ID,
    "token_count": SQL_TOKEN_COUNT,
    "sessionize": SQL_SESSIONIZE,
    "window_agg": SQL_WINDOW_AGG,
    "price_normalize": SQL_PRICE_NORMALIZE,
}
