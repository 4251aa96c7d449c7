"""Round-2 surface growth: repetition quality signals, the ORC source
format, exact distinct-counting via bitmap aggregates, a custom Python
DataSource, and the XML kernel.

Reference trace: the reference reads CSV only, downloads over HTTP with
a driver-side loop, and never profiles its corpus
(ETLCNPJFinalEmpresaEstabelecimentos.py:60-72, 84-94); these keys are
engine capabilities a training-data pipeline needs on top of it
(SURVEY.md §2.2b growth directions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.memo import session_memo, session_tmpdir
from etl_cnpjs_spark.plans.registry import quantize, quantize_sql, register


# --- text_repetition -------------------------------------------------------

_TOP_UNIGRAM_MAX = 0.3  # Gopher-style repetition gates (thresholds are
_DUP_BIGRAM_MAX = 0.55  # corpus-tuned in practice; these fit the fixture)


@register(
    "text_repetition",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    u AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    c AS (SELECT doc_id, tok, count(*) AS cnt FROM u GROUP BY 1, 2),
    s AS (SELECT doc_id, max(cnt) AS topc, sum(cnt) AS n FROM c GROUP BY 1),
    b AS (
      SELECT doc_id,
             list_transform(generate_series(2, len(toks)),
                            i -> toks[i-1] || ' ' || toks[i]) AS bg
      FROM d
    )
    SELECT d.doc_id,
           CAST(s.n AS INT)                             AS n_tokens,
           CAST(s.topc AS DOUBLE) / s.n                 AS top_unigram_frac,
           CASE WHEN len(bg) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
           END                                          AS dup_bigram_frac,
           (CAST(s.topc AS DOUBLE) / s.n <= {_TOP_UNIGRAM_MAX}
            AND CASE WHEN len(bg) = 0 THEN 0.0
                     ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                END <= {_DUP_BIGRAM_MAX})               AS keep
    FROM d JOIN s ON d.doc_id = s.doc_id JOIN b ON d.doc_id = b.doc_id
    """,
    tags=("north_star", "text", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher/C4 rules the
    text_filter_pipeline family doesn't cover): most-common-unigram
    fraction and duplicate-bigram fraction, plus the keep gate.

    Shapes: the unigram mode needs a per-(doc, token) count — explode +
    two-level groupBy, ONE shuffle keyed by (doc_id, token) with
    map-side partial counts, then a tiny per-doc re-agg. The bigram
    signal never leaves the row: adjacent pairs via transform(sequence),
    distinct/total inside the array. Fractions are exact integer ratios
    → bit-identical across engines, no rounding."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    counts = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("topc"), F.sum("cnt").alias("n"))
    )
    bi = d.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(toks[i-1], ' ', toks[i]))"
        ).alias("bg"),
    )
    top_frac = F.col("topc").cast("double") / F.col("n")
    dup_frac = F.when(F.size("bg") == 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct("bg")).cast("double") / F.size("bg")
    )
    return (
        counts.join(bi, "doc_id")
        .select(
            "doc_id",
            F.col("n").cast("int").alias("n_tokens"),
            top_frac.alias("top_unigram_frac"),
            dup_frac.alias("dup_bigram_frac"),
            (
                (top_frac <= _TOP_UNIGRAM_MAX) & (dup_frac <= _DUP_BIGRAM_MAX)
            ).alias("keep"),
        )
    )


# --- scan_orc --------------------------------------------------------------

@session_memo
def _stage_orc(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as an ORC table once per (session, sf) — a
    distributed write (Spark's ORC sink), no driver staging."""
    out = os.path.join(session_tmpdir("orc_stage_"), "documents.orc")
    table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    ).write.mode("overwrite").orc(out)
    return out


@register(
    "scan_orc",
    oracle="""
    SELECT doc_id, lang, source,
           len(text)         AS n_chars,
           md5(text)         AS content_md5
    FROM documents
    """,
    tags=("source", "orc"),
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORC source/sink round trip — Spark's second first-class
    columnar format (vectorized reader, predicate pushdown, same
    partition-pruning machinery as parquet). Write documents to ORC
    once per session, read back, fingerprint content (md5) — the oracle
    recomputes from the parquet source, proving the round trip is
    byte-faithful. At 100 TB ORC vs parquet is a storage-policy choice,
    not a plan change: every scan-side optimization here applies."""
    path = _stage_orc(spark, sf_dir)
    d = spark.read.orc(path)
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
    )


# --- agg_bitmap_distinct ---------------------------------------------------


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct", "bitmap"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark 4 bitmap aggregates — the
    shuffle-light alternative to count(distinct): stage 1 groups by
    (key, bitmap_bucket_number(value)) and ORs per-bucket bit positions
    into fixed 4KB bitmaps (map-side combinable!); stage 2 sums
    bitmap_count per key. The wire carries bitmaps, not values — for
    n distinct values per group the shuffle is n/32768 × 4KB instead of
    n × 8B rows, and unlike approx_count_distinct the answer is exact.
    COUNT(DISTINCT) in Spark plans an Expand + double shuffle of raw
    values; this is the layout that replaces it at 100 TB."""
    l = table(spark, sf_dir, "lineitem")
    per_bucket = (
        l.select("l_returnflag", F.col("l_orderkey").alias("v"))
        .groupBy(
            "l_returnflag", F.expr("bitmap_bucket_number(v)").alias("bucket")
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(v))").alias("bm"))
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_orders"))
    )


# --- source_python_ds ------------------------------------------------------


@register(
    "source_python_ds",
    oracle="""
    SELECT CAST(i AS BIGINT)           AS id,
           CAST(i * i AS BIGINT)       AS sq,
           CAST(i % 8 AS INT)          AS part
    FROM range(0, 4096) t(i)
    """,
    tags=("source", "python_datasource"),
)
def source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON DataSource (Spark 4 pyspark.sql.datasource API) —
    the extensibility seam where the reference's HTTP download loop
    (ETLCNPJFinalEmpresaEstabelecimentos.py:60-72) becomes a
    first-class, PARTITIONED source: partitions() splits the key space,
    each executor's read(partition) pulls only its slice (for a real
    feed: its page range / shard URLs), and the result enters the plan
    as an ordinary DataFrame with a declared schema — no driver-side
    staging. Here the source generates a deterministic table (8
    partitions over 4096 ids) so the oracle can re-derive it exactly."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SquaresReader(DataSourceReader):
        def __init__(self, n: int, parts: int):
            self.n, self.parts = n, parts

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            for i in range(partition.value, self.n, self.parts):
                yield (i, i * i, i % self.parts)

    class SquaresDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "squares"

        def schema(self) -> str:
            return "id bigint, sq bigint, part int"

        def reader(self, schema):
            return _SquaresReader(
                int(self.options.get("n", 4096)),
                int(self.options.get("parts", 8)),
            )

    spark.dataSource.register(SquaresDataSource)
    return spark.read.format("squares").option("n", 4096).option("parts", 8).load()


# --- fn_xml ----------------------------------------------------------------


@register(
    "fn_xml",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus            AS status_rt,
           o_totalprice             AS price_rt,
           1                        AS n_status_nodes
    FROM orders WHERE o_orderkey < 500
    """,
    tags=("fn", "xml"),
)
def fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML kernel (Spark 4 ships spark-xml in core): to_xml renders a
    struct, from_xml parses it back with a declared schema, xpath
    queries node sets. Output = the round-tripped values themselves, so
    the oracle (plain columns off the base table) proves serialization
    fidelity rather than trusting it. The shape matters for ingest:
    government/enterprise drops (the reference's domain) are often XML
    manifests; parse with a declared schema once, never per-field."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    xml = F.to_xml(
        F.struct("o_orderkey", "o_orderstatus", "o_totalprice"),
        {"rowTag": "order"},
    )
    parsed = F.from_xml(
        xml,
        "STRUCT<o_orderkey: BIGINT, o_orderstatus: STRING, o_totalprice: DOUBLE>",
        {"rowTag": "order"},
    )
    return o.select(
        "o_orderkey",
        parsed.getField("o_orderstatus").alias("status_rt"),
        parsed.getField("o_totalprice").alias("price_rt"),
        F.size(F.xpath(xml, F.lit("//o_orderstatus"))).alias("n_status_nodes"),
    )


# --- events_retention ------------------------------------------------------


@register(
    "events_retention",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    cohort AS (
      SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
    ),
    j AS (
      SELECT d.user_id, c.cohort_day,
             datediff('day', c.cohort_day, d.day) AS off
      FROM days d JOIN cohort c ON d.user_id = c.user_id
    )
    SELECT CAST(cohort_day AS TIMESTAMP)              AS cohort_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)       AS cohort_size,
           CAST(COUNT(DISTINCT CASE WHEN off = 1 THEN user_id END) AS BIGINT)
                                                         AS d1_retained,
           CAST(COUNT(DISTINCT CASE WHEN off = 7 THEN user_id END) AS BIGINT)
                                                         AS d7_retained
    FROM j GROUP BY cohort_day
    """,
    tags=("events", "retention", "analytics"),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the product-analytics staple the reference's
    domain (company registries) never needs but an events pipeline
    always does: cohort = each user's first active day; D1/D7 retention
    = users active exactly 1/7 days later (cohort_day emitted as a
    timestamp — both engines' pandas bridges agree on that type, while
    DATE surfaces as datetime.date in Spark but datetime64 in DuckDB).
    Shapes: distinct (user, day)
    collapses events early (the volume reducer), per-user min is one
    shuffle on user_id, and the activity join reuses that partitioning;
    the final cohort rollup shuffles only (cohort_day, user) pairs.
    Counts are exact integers — no float drift."""
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = days.join(cohort, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff("day", "cohort_day").alias("off"),
    )
    return j.groupBy(F.col("cohort_day").cast("timestamp").alias("cohort_day")).agg(
        F.countDistinct("user_id").alias("cohort_size"),
        F.countDistinct(F.when(F.col("off") == 1, F.col("user_id"))).alias(
            "d1_retained"
        ),
        F.countDistinct(F.when(F.col("off") == 7, F.col("user_id"))).alias(
            "d7_retained"
        ),
    )


# --- text_tfidf ------------------------------------------------------------

_TFIDF_TOP_K = 3


@register(
    "text_tfidf",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM d),
    tf AS (
      SELECT doc_id, tok, count(*) AS cnt FROM
        (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, sum(cnt) AS dlen FROM tf GROUP BY doc_id),
    idf AS (
      SELECT tok, {quantize_sql('ln(n.n_docs / count(*))')} AS idf
      FROM tf, n GROUP BY tok, n.n_docs
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             {quantize_sql('CAST(tf.cnt AS DOUBLE) / dl.dlen * idf.idf')}
               AS score
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id JOIN idf ON tf.tok = idf.tok
    ),
    ranked AS (
      SELECT doc_id, tok, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, tok) AS INT) AS rank
      FROM scored
    )
    SELECT doc_id, tok AS term, score, rank
    FROM ranked WHERE rank <= {_TFIDF_TOP_K}
    """,
    tags=("north_star", "text", "tfidf"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{_TFIDF_TOP_K} TF-IDF terms — the keyword/
    feature-extraction primitive (doc routing, topic labels, sparse
    retrieval). Distributed shape: ONE (doc, token) count shuffle feeds
    both term frequency and (re-keyed by token) document frequency; IDF
    is a token-keyed aggregate joined back to the postings (at 100 TB:
    the IDF table is vocabulary-sized — broadcast it); document length
    is a sum window over the SAME doc_id partitioning the final top-k
    window needs — not a groupBy + re-join, which would add two more
    exchanges (sharp-edge #7: window-over-partition beats
    groupBy+rejoin whenever a same-key consumer follows; 6 → 4
    exchanges here). Scores quantize to 6 dp via
    floor(x*1e6 + 0.5)/1e6 — NOT round(): the engines' round()
    implementations disagree on identical doubles that sit on a decimal
    half boundary (Spark goes through BigDecimal HALF_UP on the
    shortest string repr, DuckDB through float multiply/round), which
    flipped exactly one row at sf0.1. floor on the same double is the
    same double in both engines. Ties break on the term."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    # corpus size as a broadcast 1-row frame, NOT a driver-side count()
    # action: at 100 TB the extra job (and its scan barrier) is the cost
    # center the r2 verdict flagged — the scalar folds into the one job.
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            (F.floor(F.log(F.col("n_docs") / F.col("df")) * 1e6 + 0.5) / 1e6).alias(
                "idf"
            ),
        )
    )
    from pyspark.sql import Window

    scored = (
        tf.withColumn("dlen", F.sum("cnt").over(Window.partitionBy("doc_id")))
        .join(F.broadcast(idf), "tok")
        .select(
            "doc_id",
            "tok",
            (
                F.floor(
                    F.col("cnt").cast("double") / F.col("dlen") * F.col("idf") * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TFIDF_TOP_K)
        .select("doc_id", F.col("tok").alias("term"), "score", "rank")
    )


# --- events_anomaly --------------------------------------------------------


@register(
    "events_anomaly",
    oracle="""
    WITH s AS (
      SELECT user_id,
             COUNT(*)                                        AS n,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)         AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(27,6))) AS DOUBLE) AS s2
      FROM events GROUP BY user_id
    ), z AS (
      SELECT e.event_id, e.user_id, e.value,
             (e.value - s.s1 / s.n)
               / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) AS zscore,
             s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)            AS var
      FROM events e JOIN s ON e.user_id = s.user_id
    )
    SELECT event_id, user_id, value, zscore
    FROM z WHERE var > 0 AND abs(zscore) > 3
    """,
    tags=("events", "anomaly", "stats"),
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user outlier screen: events whose value sits more than 3
    population standard deviations from that user's mean — the data-QA
    gate (sensor glitches, bot bursts, corrupt ingests) a pipeline runs
    before aggregates are trusted. Moments are exact decimal sums
    (sum, sum-of-squares) so mean and variance derive from identical
    inputs in both engines, and every subsequent double op (two
    divisions, one multiply, sqrt, compare) is the same IEEE sequence —
    no stddev_pop, whose Welford ordering is engine-specific.

    Residual risk, shared by every moment plan that casts a double
    PRODUCT to DECIMAL(27,6) (here, events_resample/ohlc,
    agg_skew_kurtosis): double→decimal rounding itself is engine-
    convention (Spark HALF_UP on the 17-digit shortest repr, DuckDB on
    the binary value), so a product landing exactly on a 6-dp half
    boundary could one day flip a last digit — the same class as the
    round() divergence registry.quantize exists for. At scale 6 the
    boundary set has measure ≈0 and all keys spot-verified bit-exact at
    sf0.01/0.1; if a flip ever surfaces, route the product through
    quantize()/quantize_sql() BEFORE the decimal cast on both sides.

    Physical:
    the per-user moment table is thousands of rows — broadcast back to
    events, so the screen costs one partial-agg shuffle of three
    numbers per user plus a scan-side joined filter, never a window
    sort of the fact table."""
    ev = table(spark, sf_dir, "events")
    dec = "decimal(27,6)"
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(dec)).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast(dec)).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    j = (
        ev.select("event_id", "user_id", "value")
        .join(F.broadcast(s), "user_id")
        .withColumn("var", var)
        .withColumn("zscore", (F.col("value") - mean) / F.sqrt(F.col("var")))
    )
    return j.filter((F.col("var") > 0) & (F.abs(F.col("zscore")) > 3)).select(
        "event_id", "user_id", "value", "zscore"
    )


# --- window_percentiles ----------------------------------------------------


@register(
    "window_percentiles",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           percent_rank() OVER w AS pr,
           cume_dist()    OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
    """,
    tags=("window", "rank"),
)
def window_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions: percent_rank ((rank-1)/(n-1))
    and cume_dist (rows ≤ current / n) per market segment — the
    percentile machinery behind 'top 1% customers' cuts. Both are
    tie-stable (equal keys share a value), so no tiebreaker column is
    needed for determinism, and both engines evaluate the same exact
    integer ratio in one double division. One shuffle on the partition
    key, per-partition sort — the standard window envelope."""
    from pyspark.sql import Window as W

    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal")
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


# --- embedding_normalize ---------------------------------------------------


@register(
    "embedding_normalize",
    oracle="""
    WITH d AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v,
                 CASE WHEN len(v) > 0 THEN
                   sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
                 END AS l2_norm
          FROM d)
    SELECT vec_id,
           floor(l2_norm * 1e6 + 0.5) / 1e6                         AS l2_norm,
           CAST(len(v) AS INT)                                      AS dim,
           floor(CASE WHEN l2_norm > 0 THEN v[1] / l2_norm END
                 * 1e6 + 0.5) / 1e6                                     AS unit0,
           floor(CASE WHEN len(v) > 0 THEN list_aggregate(v, 'sum') / len(v) END
                 * 1e6 + 0.5) / 1e6                                 AS mean_c,
           floor(CASE WHEN len(v) > 0 THEN
                   list_aggregate(list_transform(v, x -> abs(x)), 'max')
                 END * 1e6 + 0.5) / 1e6                             AS max_abs
    FROM n
    """,
    tags=("similarity", "embedding", "fn"),
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene pass: L2 norm, dimension check, first unit
    component, mean component, max |x| — the validation profile run
    before any similarity work (catching zero vectors, wrong dims,
    unnormalized batches). Degenerate inputs stay visible AND oracle-
    equivalent: a zero-length embedding reports dim=0 with NULL
    norm/moments on both sides (Spark's fold would return the initial
    0.0 where DuckDB's list_aggregate returns NULL — both sides guard
    on emptiness explicitly instead). All higher-order array
    expressions folding
    left-to-right in both engines over double-promoted floats, with a
    round(…,6) boundary as the float-path convention
    (plans/registry.py). No UDF, no shuffle — the scan is the cost, and
    at 100 TB this runs as a side-output of whatever scan touches the
    embeddings anyway."""
    e = table(spark, sf_dir, "embeddings")
    d = e.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    nonempty = F.size("v") > 0
    n = d.withColumn(
        "norm_raw",
        F.when(
            nonempty,
            F.sqrt(
                F.expr(
                    "aggregate(transform(v, x -> x * x), cast(0 as double), (a, x) -> a + x)"
                )
            ),
        ),
    )
    return n.select(
        "vec_id",
        quantize(F.col("norm_raw")).alias("l2_norm"),
        F.size("v").alias("dim"),
        quantize(
            F.when(F.col("norm_raw") > 0, F.expr("v[0]") / F.col("norm_raw"))
        ).alias("unit0"),
        quantize(
            F.when(
                nonempty,
                F.expr("aggregate(v, cast(0 as double), (a, x) -> a + x)")
                / F.size("v"),
            )
        ).alias("mean_c"),
        quantize(
            F.when(
                nonempty,
                F.expr(
                    "aggregate(transform(v, x -> abs(x)), cast(0 as double), (a, x) -> greatest(a, x))"
                ),
            )
        ).alias("max_abs"),
    )


# --- cdc_apply -------------------------------------------------------------


@register(
    "cdc_apply",
    oracle="""
    WITH feed AS (
      SELECT o_orderkey AS key, 1 AS version,
             CASE WHEN o_orderkey % 100 = 0 THEN 'D' ELSE 'U' END AS op,
             'v1-' || lower(o_orderstatus) AS new_status
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'U', 'v2-' || lower(o_orderstatus)
      FROM orders WHERE o_orderkey % 20 = 0 AND o_orderkey % 100 <> 0
    ), latest AS (
      SELECT key, op, new_status FROM (
        SELECT *, row_number() OVER (PARTITION BY key ORDER BY version DESC) AS rn
        FROM feed) WHERE rn = 1
    )
    SELECT b.o_orderkey, b.o_custkey,
           COALESCE(l.new_status, b.o_orderstatus) AS status,
           (l.new_status IS NOT NULL)              AS updated
    FROM orders b LEFT JOIN latest l ON b.o_orderkey = l.key
    WHERE l.op IS DISTINCT FROM 'D'
    """,
    tags=("cdc", "merge", "join"),
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO, engine form: apply a CDC feed (upserts + deletes,
    multiple versions per key) to a base table with latest-wins
    semantics — the nightly-compaction half of a lakehouse CDC
    pipeline. Three steps, each the scalable shape: (1) collapse the
    feed to one winner per key (row_number over the version order —
    feed-sized shuffle, not base-sized); (2) anti/left join the BASE
    against the collapsed feed on the key — at 100 TB the feed is the
    small side and broadcasts, so the base table is never shuffled;
    (3) COALESCE updated columns. The feed here is derived
    deterministically from orders itself so the oracle can re-derive
    it; in production it's the readStream/CDC source. Delete filter
    uses null-safe comparison (op IS DISTINCT FROM 'D') so unmatched
    base rows — op NULL — survive. Version-2 updates deliberately skip
    the delete keys so the delete path is actually exercised (a v2
    upsert would otherwise resurrect every deleted key — which IS the
    correct latest-wins behavior, just not the interesting case)."""
    o = table(spark, sf_dir, "orders")
    f1 = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit(1).alias("version"),
        F.when(F.col("o_orderkey") % 100 == 0, "D").otherwise("U").alias("op"),
        F.concat(F.lit("v1-"), F.lower("o_orderstatus")).alias("new_status"),
    )
    f2 = o.filter(
        (F.col("o_orderkey") % 20 == 0) & (F.col("o_orderkey") % 100 != 0)
    ).select(
        F.col("o_orderkey").alias("key"),
        F.lit(2).alias("version"),
        F.lit("U").alias("op"),
        F.concat(F.lit("v2-"), F.lower("o_orderstatus")).alias("new_status"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("key").orderBy(F.desc("version"))
    latest = (
        f1.unionAll(f2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "op", "new_status")
    )
    return (
        o.join(F.broadcast(latest), o.o_orderkey == latest.key, "left")
        .filter(~F.col("op").eqNullSafe("D"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.coalesce("new_status", "o_orderstatus").alias("status"),
            F.col("new_status").isNotNull().alias("updated"),
        )
    )


# --- cdc_scd2 --------------------------------------------------------------


# Shared by cdc_scd2 (the interval build) and cdc_snapshot_at (the
# point-in-time read over it).
_SQL_SCD2 = """
    WITH feed AS (
      SELECT o_orderkey AS key, o_orderdate AS eff_ts,
             'v1-' || lower(o_orderstatus) AS status
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY,
             CASE WHEN o_orderkey % 60 = 0 THEN 'v1-' || lower(o_orderstatus)
                  ELSE 'v2-' || lower(o_orderstatus) END
      FROM orders WHERE o_orderkey % 20 = 0
      UNION ALL
      SELECT o_orderkey, o_orderdate + INTERVAL 60 DAY,
             'v3-' || lower(o_orderstatus)
      FROM orders WHERE o_orderkey % 40 = 0
    ), ch AS (
      SELECT key, eff_ts, status,
             lag(status) OVER (PARTITION BY key ORDER BY eff_ts) AS prev
      FROM feed
    ), kept AS (
      SELECT key, eff_ts, status FROM ch
      WHERE prev IS NULL OR status <> prev
    )
    SELECT key, status, eff_ts AS valid_from,
           lead(eff_ts) OVER (PARTITION BY key ORDER BY eff_ts) AS valid_to,
           (lead(eff_ts) OVER (PARTITION BY key ORDER BY eff_ts) IS NULL)
             AS is_current
    FROM kept
    """


@register(
    "cdc_scd2",
    oracle=_SQL_SCD2,
    tags=("cdc", "scd2", "window"),
)
def cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build — the history half of the
    CDC pair (cdc_apply is the type-1 latest-wins snapshot): turn a
    change feed of (key, effective-time, attribute) into validity
    intervals [valid_from, valid_to) with an is_current flag, the shape
    every warehouse dimension load and feature-store history table
    needs. Consecutive no-change rows are suppressed first (lag over
    the per-key time order — a v2 record restating v1's value must NOT
    open a new interval; keys % 60 exercise exactly that), then
    valid_to = lead(eff_ts) and the open interval marks the current
    row.

    Scale shape: the feed is derived from orders (deterministic, so
    the oracle re-derives it — the cdc_apply pattern); both windows
    share one (key) partitioning and one (eff_ts) sort, so the whole
    build is a SINGLE feed-sized exchange + sort reused by lag and
    lead — never a self-join of the feed, and the base table is not
    involved at all. At 100 TB the feed is the small CDC side; the
    interval table appends partition-by-current-date.

    STREAMING face: streaming/stateful.py::scd2_closed_intervals builds
    the same interval table incrementally from an unbounded change
    stream (applyInPandasWithState; per-key state = the one open
    interval) — tests/test_streaming.py proves its emitted rows equal
    exactly this batch build's closed intervals once the stream drains."""
    from etl_cnpjs_spark.operators.relational import scd2_intervals

    v1, v2, v3 = scd2_feed_waves(spark, sf_dir)
    feed = v1.unionAll(v2).unionAll(v3)
    return scd2_intervals(feed, "key", "eff_ts", "status")


def scd2_feed_waves(spark: SparkSession, sf_dir: str):
    """The synthetic change feed behind cdc_scd2/cdc_snapshot_at, split
    into its three version waves (v1 at o_orderdate, v2 at +30 d, v3 at
    +60 d) — the split exists so the STREAMING face can replay the feed
    in log order wave-by-wave (tests/test_streaming.py), the ordering
    guarantee a real CDC log provides."""
    o = table(spark, sf_dir, "orders")

    def slice_(mod: int, ver: int):
        f = o.filter(F.col("o_orderkey") % mod == 0)
        if ver == 1:
            st = F.concat(F.lit("v1-"), F.lower("o_orderstatus"))
            ts = F.col("o_orderdate")
        elif ver == 2:
            st = F.when(
                F.col("o_orderkey") % 60 == 0,
                F.concat(F.lit("v1-"), F.lower("o_orderstatus")),
            ).otherwise(F.concat(F.lit("v2-"), F.lower("o_orderstatus")))
            ts = F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
        else:
            st = F.concat(F.lit("v3-"), F.lower("o_orderstatus"))
            ts = F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        return f.select(
            F.col("o_orderkey").alias("key"),
            ts.alias("eff_ts"),
            st.alias("status"),
        )

    return slice_(10, 1), slice_(20, 2), slice_(40, 3)


_SNAPSHOT_TS = "1995-06-30 00:00:00"


@register(
    "cdc_snapshot_at",
    oracle=f"""
    WITH scd2 AS ({_SQL_SCD2})
    SELECT key, status, valid_from
    FROM scd2
    WHERE valid_from <= TIMESTAMP '{_SNAPSHOT_TS}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SNAPSHOT_TS}')
    """,
    tags=("cdc", "scd2", "asof"),
)
def cdc_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF read over the SCD2 interval table — "the dimension exactly
    as it stood at time T", the query every time-travel/lakehouse CDC
    story ends in (Delta/Iceberg snapshot reads have this semantics;
    here it is expressed against the interval table cdc_scd2 builds, so
    it works on ANY store). A point-in-time snapshot is a pure partition
    filter over [valid_from, valid_to): keys born after T fall out via
    valid_from <= T, superseded versions via valid_to > T, and the open
    (is_current) interval matches any T past its start.

    Scale shape: ZERO additional shuffles — the filter is residual on
    cdc_scd2's single feed-sized exchange. On a PERSISTED interval
    table partitioned by date(valid_from) the same predicate
    partition-prunes; the snapshot never replays the change feed (the
    naive AS-OF implementation) nor sorts per key again."""
    scd2 = cdc_scd2(spark, sf_dir)
    t = F.lit(_SNAPSHOT_TS).cast("timestamp")
    return scd2.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("key", "status", "valid_from")


# --- graph_pagerank --------------------------------------------------------

_PR_D = 0.85  # damping
_PR_ITERS = 3
# Node-id encoding for the bipartite part↔supplier graph: parts map to
# 2*partkey (even), suppliers to 2*suppkey+1 (odd). Disjointness is
# STRUCTURAL — it holds at any scale factor — unlike the r11 additive
# offset (+1e6), whose disjointness premise silently broke once
# partkeys passed the constant (SF>5: 200000*SF ids collide with
# offset supplier ids, duplicating edges/degree rows vs the oracle's
# UNION-distinct). Even/odd needs no data-derived bound and no
# plan-build assertion; overflow would require partkey > 2^62.


def _pr_oracle() -> str:
    ed = f"""
    WITH ed AS (
      SELECT DISTINCT 2 * l_partkey AS u, 2 * l_suppkey + 1 AS v FROM lineitem
      UNION
      SELECT DISTINCT 2 * l_suppkey + 1 AS u, 2 * l_partkey AS v FROM lineitem
    ),
    deg AS (SELECT u, count(*) AS od FROM ed GROUP BY u),
    n AS (SELECT CAST(count(DISTINCT u) AS DOUBLE) AS nn FROM ed),
    r0 AS (SELECT u AS node, 1.0 / nn AS r FROM deg, n)
    """
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        ed += f""",
    it{i} AS (
      SELECT ed.v AS node,
             CAST(0.15 AS DOUBLE) / nn
               + {_PR_D} * (CAST(SUM(CAST(floor(p.r / deg.od * 1e15 + 0.5)
                                         AS BIGINT)) AS DOUBLE) / 1e15) AS r
      FROM ed JOIN {prev} p ON ed.u = p.node JOIN deg ON ed.u = deg.u, n
      GROUP BY ed.v, nn)
    """
        prev = f"it{i}"
    return ed + f"""
    SELECT node, {quantize_sql('r', 12)} AS rank
    FROM {prev}
    """


@register(
    "graph_pagerank",
    oracle=_pr_oracle(),
    tags=("graph", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, three unrolled power iterations over the bipartite
    part↔supplier graph (both edge directions, so no dangling nodes) —
    the iterative-algorithm pattern beyond connected components, WITH a
    full oracle: fixed iteration counts unroll into CTEs, so 'iterative'
    does not have to mean 'rows-only check'. Determinism: each
    contribution quantizes to an exact 1e-15-scaled BIGINT via floor on
    an identical double (a double→DECIMAL(38,18) cast is NOT
    engine-portable — Spark goes through the 17-digit shortest string
    repr, DuckDB rounds the true binary value, so they disagree on
    nearly every term at scale 18); bigint sums are exact and
    order-insensitive, every other op is the same IEEE double sequence
    in both engines, and the output quantizes at 1e-12.

    Distributed shape per iteration (r11 profile-driven rework, all
    three changes oracle-identical by construction):
    - the fwd/rev keyspaces are disjoint AT ANY SCALE (even/odd node
      encoding: parts 2k, suppliers 2k+1 — see the module comment; the
      r11 additive offset broke this premise past SF 5), so
      distinct(fwd ∪ rev) = distinct(fwd) ∪ mirror(distinct(fwd)) —
      lineitem is scanned ONCE and the edge-distinct shuffle carries
      half the rows; the mirror is a narrow projection of the
      checkpointed half.
    - node count = the degree frame's row count (one row per node), a
      node-scale count instead of an edge-scale count_distinct.
    - each edge's contribution floor(r/od·1e15+0.5) depends only on the
      SOURCE node, so it is computed once per node inside the broadcast
      subtree and the edges probe a broadcast (node, c) map — no
      per-edge divide/floor, no per-iteration edge-scale deg join; at
      100 TB the per-edge hot path is hash-probe + emit, and the only
      per-iteration shuffle is the (dst, partial-bigint-sum) exchange.
    Loop invariants (pairs, deg, nn) materialize once; each iteration's
    node-sized frame is localCheckpointed so the plan tree stays flat
    (operators/graph.py discipline)."""
    li = table(spark, sf_dir, "lineitem")
    pairs = (
        li.select(
            (F.lit(2) * F.col("l_partkey")).alias("u"),
            (F.lit(2) * F.col("l_suppkey") + F.lit(1)).alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    ed = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # out-degree per node: parts (even ids) appear only as pairs.u,
    # suppliers (odd ids) only as pairs.v, so the two half-aggregations
    # are the bipartite split of groupBy(u) over the mirrored edge
    # list. Node-sized; broadcast.
    deg = (
        pairs.groupBy("u")
        .agg(F.count(F.lit(1)).alias("od"))
        .unionByName(
            pairs.groupBy(F.col("v").alias("u")).agg(
                F.count(F.lit(1)).alias("od")
            )
        )
        .localCheckpoint()
    )
    # node count as a broadcast 1-row frame, not a driver count() action
    # (the r2 verdict flagged the extra job/scan of a collect'd scalar).
    nn = deg.agg(F.count(F.lit(1)).alias("nn")).localCheckpoint()
    r = (
        deg.select(F.col("u").alias("node"))
        .crossJoin(F.broadcast(nn))
        .select("node", (F.lit(1.0) / F.col("nn")).alias("r"))
    )
    for _ in range(_PR_ITERS):
        rc = (
            r.join(F.broadcast(deg), r.node == deg.u)
            .select(
                "node",
                F.floor(F.col("r") / F.col("od") * 1e15 + 0.5)
                .cast("bigint")
                .alias("c"),
            )
        )
        r = (
            ed.join(F.broadcast(rc), ed.u == F.col("node"))
            .groupBy(F.col("v").alias("node"))
            .agg((F.sum("c").cast("double") / F.lit(1e15)).alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (F.lit(0.15) / F.col("nn") + _PR_D * F.col("s")).alias("r"),
            )
            .localCheckpoint()
        )
    return r.select("node", quantize(F.col("r"), 12).alias("rank"))


# --- scan_merge_schema -----------------------------------------------------

@session_memo
def _stage_evolved_parquet(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet drops of the same logical table written under an
    EVOLVED schema: generation 1 carries (c_custkey, c_name), a later
    generation adds the c_acctbal column. Staged via ordinary Spark
    writes (executor-side), memoized per (session, sf) — input
    setup, not query work."""
    out = session_tmpdir("evolved_")
    c = table(spark, sf_dir, "customer")
    c.filter(F.col("c_nationkey") == 3).select("c_custkey", "c_name").write.mode(
        "overwrite"
    ).parquet(f"{out}/gen=1")
    c.filter(F.col("c_nationkey") == 7).select(
        "c_custkey", "c_name", "c_acctbal"
    ).write.mode("overwrite").parquet(f"{out}/gen=2")
    return out


@register(
    "scan_merge_schema",
    oracle="""
    SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal, 1 AS gen
    FROM customer WHERE c_nationkey = 3
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, 2 AS gen
    FROM customer WHERE c_nationkey = 7
    """,
    tags=("source", "schema_evolution"),
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a table whose later file generations
    added a column is read as ONE DataFrame with mergeSchema — old
    files surface the new column as NULL, the partition column (gen)
    identifies the drop. This is how a 100 TB table takes a schema
    change without rewriting history: merge footers at planning time
    (cost: one footer read per file — keep per-file schemas in the
    catalog once file counts get large), never touch old data files.
    The oracle re-derives both generations from the base table."""
    path = _stage_evolved_parquet(spark, sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("c_custkey", "c_name", "c_acctbal", F.col("gen").cast("int").alias("gen"))
    )


# --- fn_try_arith ----------------------------------------------------------


@register(
    "fn_try_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE l_extendedprice / l_discount END          AS price_per_disc,
           CASE WHEN floor(l_quantity) = 0 THEN NULL
                ELSE CAST(floor(l_extendedprice) AS BIGINT)
                     % CAST(floor(l_quantity) AS BIGINT)
           END                                                 AS mod_qty,
           CASE WHEN regexp_matches(l_returnflag, '^\\s*[+-]?\\d+\\s*$')
                THEN TRY_CAST(l_returnflag AS INTEGER) END     AS flag_as_int,
           TRY_CAST(CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR)
                    AS INTEGER)                                AS qty_as_int
    FROM lineitem
    """,
    tags=("fn", "ansi", "errors"),
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: try_divide / try_mod / try_cast return NULL
    instead of failing the 100 TB job on the one bad row — the error
    posture a production pipeline wants (poison rows surface as NULLs
    to quarantine, not as a stage retry storm). The oracle re-derives
    each NULL condition explicitly (DuckDB's operators raise; its
    TRY_CAST mirrors Spark's), so the compare proves WHICH rows degrade
    to NULL, not merely that the query survives. Double→integer
    narrowing goes through floor() on both sides — a bare
    CAST(double AS BIGINT) truncates in Spark but rounds half-even in
    DuckDB, the same engine-portability trap as round() (registry
    docstring). Per-row codegen expressions — no shuffle, no UDF.

    Scale note on the flag cast: try_cast's NULL path is a caught JVM
    exception PER FAILING ROW — on a column where most values don't
    parse (here: every value), that's ~20× the cost of the surrounding
    kernel (measured 4.4 s vs 0.2 s for the other three expressions at
    sf0.1). A cheap rlike guard keeps the exception path off the hot
    rows — try_cast then runs only on plausible integers, where it
    still owns range/overflow — identical NULL set, 5× faster here and
    unboundedly better at 100 TB on mostly-invalid columns. The guard
    is mirrored in the oracle (regexp_matches before TRY_CAST) because
    the two engines' bare casts diverge on fractional/exponent strings
    ('1.5', '1e2'): DuckDB TRY_CAST rounds them to an int, Spark
    try_cast returns NULL — the shared pre-screen makes both sides NULL
    on anything that is not a plain optionally-signed integer."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "price_per_disc"
        ),
        F.try_mod(
            F.floor("l_extendedprice").cast("bigint"),
            F.floor("l_quantity").cast("bigint"),
        ).alias("mod_qty"),
        F.when(
            F.col("l_returnflag").rlike(r"^\s*[+-]?\d+\s*$"),
            F.col("l_returnflag").try_cast("int"),
        ).alias("flag_as_int"),
        F.floor("l_quantity")
        .cast("bigint")
        .cast("string")
        .try_cast("int")
        .alias("qty_as_int"),
    )


# --- agg_approx_topk -------------------------------------------------------


@register(
    "agg_approx_topk",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    tags=("agg", "sketch", "topk"),
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Spark 4's approx_top_k sketch, exploded back to
    (item, count) rows at the plan boundary (array-of-struct output
    would break the driver canonicalizer). Sized so the check is
    EXACT — k=64 and maxItemsTracked=4096 both exceed the event_type
    cardinality (pinned by tests/test_queries.py::
    test_approx_topk_regime_is_exact), so the sketch degenerates to
    true counts and the
    plain GROUP BY oracle is an equality, not a bound. At real
    cardinality the same plan keeps a fixed-size sketch per partition
    and merges — the mergeable-summary scale pattern of agg_hll_sketch
    applied to frequency. (At production k << distinct the check
    becomes error-bounded, like the other sketches.)"""
    ev = table(spark, sf_dir, "events")
    sk = ev.agg(F.expr("approx_top_k(event_type, 64, 4096)").alias("tk"))
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").alias("cnt"),
        )
    )


# --- events_resample -------------------------------------------------------


@register(
    "events_resample",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS h0,
                      date_trunc('hour', max(ts)) AS h1
      FROM events GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
      FROM b),
    hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_ts,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sv
      FROM events GROUP BY 1, 2)
    SELECT g.user_id, g.hour_ts,
           COALESCE(h.n, 0)  AS n_events,
           h.sv              AS sum_value,
           last_value(h.sv IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g LEFT JOIN hourly h
      ON g.user_id = h.user_id AND g.hour_ts = h.hour_ts
    """,
    tags=("events", "timeseries", "resample"),
)
def events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: regularize each user's event
    stream onto a dense hourly grid (sequence + explode — the grid is
    derived, never collected), left-join the hourly aggregate, and
    forward-fill gaps with the last observed value (last() IGNORE
    NULLS over the per-user time order) — the hypertable
    continuous-aggregate / downsample shape every metrics store ships.
    Empty hours are visible as n_events=0 with a NULL raw sum and a
    carried filled_value.

    Distributed shape (r14 rework, guide §2.4 — measured vs the old
    grid-join form, value-identical at 3 SFs): the dense grid is
    DERIVED from the hourly aggregate itself, not joined onto it. One
    scan feeds one (user, hour) aggregate (map-side combined); a
    user-keyed window pair over the HOURLY grain computes the next
    observed hour (lead) and the running forward-fill (last ignore
    nulls — carried per OBSERVED row so an all-null-value hour fills
    from its predecessor exactly as the old grid window did); each
    observed row then explodes sequence(hour, next-1h) — its own cell
    plus the empty cells it owns. The old shape scanned events TWICE
    (bounds aggregate + hourly aggregate), joined grid onto hourly,
    and ran the fill window at GRID grain; this shape is one scan, the
    same two exchanges, one hourly-grain sort, no join. Hour sums
    accumulate in decimal (order-insensitive), and forward-fill copies
    values, so every filled cell is bit-identical in both engines."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sv"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("hour_ts")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    g = hourly.select(
        "user_id",
        "hour_ts",
        "n",
        "sv",
        F.lead("hour_ts").over(w).alias("__next"),
        F.last("sv", ignorenulls=True).over(wrun).alias("__ff"),
    )
    cells = g.select(
        "user_id",
        F.col("hour_ts").alias("__obs"),
        "n",
        "sv",
        "__ff",
        F.explode(
            F.when(
                F.col("__next").isNull(), F.array(F.col("hour_ts"))
            ).otherwise(
                F.expr("sequence(hour_ts, __next - interval 1 hour, interval 1 hour)")
            )
        ).alias("hour_ts"),
    )
    at_obs = F.col("hour_ts") == F.col("__obs")
    return cells.select(
        "user_id",
        "hour_ts",
        F.when(at_obs, F.col("n")).otherwise(F.lit(0).cast("long")).alias("n_events"),
        F.when(at_obs, F.col("sv")).alias("sum_value"),
        F.col("__ff").alias("filled_value"),
    )


# --- events_ohlc -----------------------------------------------------------


@register(
    "events_ohlc",
    oracle="""
    WITH r AS (
      SELECT user_id, date_trunc('hour', ts) AS hour_ts, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id)      AS rn_a,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events)
    SELECT user_id, hour_ts,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value)                             AS high,
           MIN(value)                             AS low,
           MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
           COUNT(*)                               AS n_events
    FROM r GROUP BY user_id, hour_ts
    """,
    tags=("events", "timeseries", "agg"),
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (user, hour) the opening value (earliest
    event), high, low, closing value (latest event), and count — the
    canonical financial/metrics bar aggregation. Open/close are
    first/last BY EVENT TIME with event_id breaking timestamp ties, so
    the bars are a deterministic function of the data in both engines;
    the formulation (row_number inside, conditional aggregate outside)
    is textually mirrored rather than trusting min_by/arg_min tie
    behavior across engines. One shuffle on (user, hour) for the
    windows; the final groupBy reuses that partitioning — high/low/
    count collapse map-side would need a second pass, so the bar grain
    keeps everything in the one windowed exchange."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    h = F.date_trunc("hour", "ts")
    wa = W.partitionBy("user_id", h).orderBy("ts", "event_id")
    wz = W.partitionBy("user_id", h).orderBy(F.desc("ts"), F.desc("event_id"))
    r = ev.select(
        "user_id",
        h.alias("hour_ts"),
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wz).alias("rn_z"),
    )
    return r.groupBy("user_id", "hour_ts").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_z") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- agg_skew_kurtosis -----------------------------------------------------


@register(
    "agg_skew_kurtosis",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)  AS s1,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(27,6)))
                  AS DOUBLE)                                         AS s2,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                           AS DECIMAL(27,6))) AS DOUBLE)             AS s3,
             CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                           AS DECIMAL(27,6))) AS DOUBLE)             AS s4
      FROM lineitem GROUP BY l_returnflag),
    c AS (
      SELECT l_returnflag, n,
             s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS v,
             s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n)
               AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM m)
    SELECT l_returnflag,
           {{q_mu}}   AS mean_qty,
           {{q_skew}} AS skewness,
           {{q_kurt}} AS kurtosis_excess
    FROM c
    """.format(
        q_mu="floor((mu) * 1e6 + 0.5) / 1e6",
        q_skew="floor((m3 / sqrt(v * v * v)) * 1e6 + 0.5) / 1e6",
        q_kurt="floor((m4 / (v * v) - 3) * 1e6 + 0.5) / 1e6",
    ),
    tags=("agg", "stats"),
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third/fourth-moment statistics (skewness, excess kurtosis) per
    group — the distribution-shape signals a data-quality monitor
    tracks for drift. Same discipline as agg_stats_advanced, one order
    higher: raw power sums Σx..Σx⁴ accumulate as exact decimals (one
    map-side-combined pass), central moments and the normalized ratios
    derive through a textually mirrored IEEE double sequence, and the
    6 dp floor-quantize seals the boundary. Spark's native skewness()/
    kurtosis() are single-pass central-update aggregates whose
    partition order leaks below the grid — same reason stddev/corr were
    rewritten."""
    li = table(spark, sf_dir, "lineitem", parallel=True)
    dec = "decimal(27,6)"
    x = F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("s1"),
        F.sum((x * x).cast(dec)).cast("double").alias("s2"),
        F.sum((x * x * x).cast(dec)).cast("double").alias("s3"),
        F.sum((x * x * x * x).cast(dec)).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    v = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    return m.select(
        "l_returnflag",
        quantize(mu).alias("mean_qty"),
        quantize(m3 / F.sqrt(v * v * v)).alias("skewness"),
        quantize(m4 / (v * v) - 3).alias("kurtosis_excess"),
    )


# --- events_streaks --------------------------------------------------------

_STREAK_MIN_DAYS = 3


@register(
    "events_streaks",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day
      FROM events),
    r AS (
      SELECT user_id, day,
             date_diff('day', DATE '2024-01-01', CAST(day AS DATE))
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM d)
    SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
           COUNT(*) AS streak_days
    FROM r GROUP BY user_id, island
    HAVING COUNT(*) >= {_STREAK_MIN_DAYS}
    """,
    tags=("events", "window", "islands"),
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (streaks ≥ {_STREAK_MIN_DAYS} days) — the engagement-streak /
    uptime-run pattern, distinct from sessionization (which thresholds
    time gaps; islands require exact integer adjacency). The classic
    day-minus-row_number trick: within a user, consecutive days share
    (day_index - row_number), so one window plus one groupBy on that
    anchor finds every maximal run. All arithmetic is integer (day
    index anchored at an epoch date), so the grouping key is exact in
    both engines. Shuffle story: distinct collapses (user, day)
    map-side; the window and the groupBy share hash(user) clustering —
    the same one-exchange envelope as every window plan."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    r = d.withColumn(
        "island",
        F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date")) - rn,
    )
    return (
        r.groupBy("user_id", "island")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .filter(F.col("streak_days") >= _STREAK_MIN_DAYS)
        .select("user_id", "streak_start", "streak_end", "streak_days")
    )


# --- dq_check --------------------------------------------------------------


@register(
    "dq_check",
    oracle="""
    SELECT 'orders_key_unique' AS rule,
           CAST((SELECT count(*) FROM (
              SELECT o_orderkey FROM orders GROUP BY o_orderkey
              HAVING count(*) > 1)) AS BIGINT)             AS n_violations,
           CAST((SELECT count(*) FROM orders) AS BIGINT)   AS n_checked
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'quantity_in_1_50',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'orderdate_not_null',
           CAST((SELECT count(*) FROM orders WHERE o_orderdate IS NULL) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'price_non_negative',
           CAST((SELECT count(*) FROM lineitem WHERE l_extendedprice < 0) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    """,
    tags=("qa", "dq", "constraints"),
)
def dq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate — the constraint checks the
    reference's readme names as manual QA (orphan counts, load
    reconciliation, readme.md:140-145) run as ONE engine job:
    uniqueness (key groupBy, violations = keys seen twice),
    referential integrity (left-anti orphan count — the check form of
    the flagship's orphan-DROPPING inner joins), range and null rules
    (scan-side conditional aggregates). Output is one (rule,
    n_violations, n_checked) row per rule — the contract a pipeline
    asserts on before publishing a load.

    Scale shape: the three lineitem rules share one scan (a single
    multi-conditional aggregate); uniqueness shuffles only keys;
    the FK check is a left-anti join on the orderkey — at 100 TB AQE
    picks broadcast/shuffle by dim size, and a bloom-filter prejoin
    (tests/test_plans.py pins the rule) screens the fact side. A
    violation count of zero on every rule is the EXPECTED testdata
    state — the rules still execute their full plans."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    n_orders = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_dates"),
    )
    orphans = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    li_stats = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
            .otherwise(0)
        ).cast("bigint").alias("qty_bad"),
        F.sum(F.when(F.col("l_extendedprice") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("neg_price"),
    )

    def row(rule, v_col, n_col, frame):
        return frame.select(
            F.lit(rule).alias("rule"),
            F.col(v_col).alias("n_violations"),
            F.col(n_col).alias("n_checked"),
        )

    uniq = dup.crossJoin(F.broadcast(n_orders.select("n"))).select(
        F.lit("orders_key_unique").alias("rule"),
        F.col("v").alias("n_violations"),
        F.col("n").alias("n_checked"),
    )
    fk = orphans.crossJoin(F.broadcast(li_stats.select("n"))).select(
        F.lit("lineitem_fk_orders").alias("rule"),
        F.col("v").alias("n_violations"),
        F.col("n").alias("n_checked"),
    )
    qty = row("quantity_in_1_50", "qty_bad", "n", li_stats)
    nd = row("orderdate_not_null", "null_dates", "n", n_orders)
    neg = row("price_non_negative", "neg_price", "n", li_stats)
    return uniq.unionAll(fk).unionAll(qty).unionAll(nd).unionAll(neg)


# --- graph_label_propagation -----------------------------------------------

_LPA_ITERS = 2


def _lpa_oracle() -> str:
    sql = """
    WITH ed AS (
      SELECT DISTINCT 2 * l_partkey AS u, 2 * l_suppkey + 1 AS v FROM lineitem
      UNION
      SELECT DISTINCT 2 * l_suppkey + 1 AS u, 2 * l_partkey AS v FROM lineitem
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM ed)
    """
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        sql += f""",
    c{i} AS (
      SELECT ed.v AS node, p.label, count(*) AS cnt
      FROM ed JOIN {prev} p ON ed.u = p.node
      GROUP BY 1, 2),
    l{i} AS (
      SELECT node, -(max({{'c': cnt, 'nl': -label}})).nl AS label
      FROM c{i} GROUP BY node)
    """
        prev = f"l{i}"
    return sql + f"SELECT node, CAST(label AS BIGINT) AS label FROM {prev}"


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    tags=("graph", "iterative", "north_star"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation (community detection), two unrolled synchronous
    iterations over the part↔supplier bipartite graph — the
    fixed-iteration oracle pattern graph_pagerank established, applied
    to the OTHER standard Pregel workload. Update rule: each node adopts
    its neighbors' MODE label; ties break to the smallest label, made
    total-order deterministic by max over the integer pair
    (cnt, -label) — lexicographic struct ordering in Spark
    (F.max(F.struct(...))), named-struct max in DuckDB, identical
    semantics, all-integer so no float drift. Exact at ANY scale: the
    r11 packed-bigint form (cnt*C - label) required C to exceed the max
    node id, a bound that silently broke past SF 25, the same class of
    fixed-constant bug as the pagerank offset. The struct form has no
    bound, so the key stays hash-green despite LPA's notorious tie
    nondeterminism (asynchronous/random-order variants aren't
    reproducible even against themselves).

    Distributed shape per iteration — same discipline as pagerank: the
    label vector is node-sized and BROADCASTS to the (checkpointed) edge
    list; edges never move; one shuffle on the destination key for the
    partial-aggregated (node, label) counts, then a node-grain
    struct-max.
    At 100 TB with a label vector too big to broadcast, the two
    broadcast hints become a hash(u) co-partitioning of ed and labels
    reused across iterations — the join keys never change, so the edge
    exchange still happens ONCE, not per iteration.

    Edge build (r11 rework, r12 scale fix — same as graph_pagerank):
    the fwd/rev keyspaces are disjoint at any SF via the even/odd node
    encoding (parts 2k, suppliers 2k+1; the r11 +1e6 offset broke past
    SF 5), so the mirrored edge set is distinct(fwd) ∪
    mirror(distinct(fwd)) — lineitem scanned once, the edge-distinct
    shuffle halved, and the initial label vector comes from two
    node-scale distincts over the checkpointed half instead of an
    edge-scale distinct over the mirror."""
    li = table(spark, sf_dir, "lineitem")
    pairs = (
        li.select(
            (F.lit(2) * F.col("l_partkey")).alias("u"),
            (F.lit(2) * F.col("l_suppkey") + F.lit(1)).alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    ed = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = (
        pairs.select(F.col("u").alias("node"))
        .distinct()
        .unionByName(pairs.select(F.col("v").alias("node")).distinct())
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(_LPA_ITERS):
        cnt = (
            ed.join(F.broadcast(labels), ed.u == F.col("node"))
            .groupBy(F.col("v"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            cnt.groupBy(F.col("v").alias("node"))
            .agg(
                (
                    -F.max(
                        F.struct(
                            F.col("cnt").alias("c"),
                            (-F.col("label")).alias("nl"),
                        )
                    ).getField("nl")
                ).alias("label")
            )
            .localCheckpoint()
        )
    return labels.select("node", F.col("label").cast("bigint").alias("label"))


# --- events_rolling_distinct -----------------------------------------------

_ROLLING_DAYS = 7


@register(
    "events_rolling_distinct",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    contrib AS (
      SELECT du.day + CAST(i.i AS INTEGER) AS metric_day, du.user_id
      FROM du CROSS JOIN (SELECT unnest(range({_ROLLING_DAYS})) AS i) i
    ),
    cal AS (SELECT DISTINCT CAST(ts AS DATE) AS metric_day FROM events)
    SELECT CAST(c.metric_day AS TIMESTAMP) AS metric_day,
           CAST(count(DISTINCT k.user_id) AS BIGINT) AS active_users
    FROM cal c JOIN contrib k ON k.metric_day = c.metric_day
    GROUP BY 1
    """,
    tags=("events", "window", "distinct", "north_star"),
)
def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {N}-day distinct actives per day (the WAU curve; DAU is
    the N=1 special case) — the metric a naive plan computes as one
    window-distinct per day over raw events, which Spark can't even
    express (no DISTINCT in window frames) and which would re-scan N
    days of events per output day. Scalable form — the CONTRIBUTION
    EXPLODE: collapse events to distinct (day, user) first (the only
    event-grain shuffle), then each (day, user) fact contributes to
    exactly the N metric days it can influence (a constant ≤ N-way
    explode of the already-tiny day-grain frame), and one
    count_distinct per metric day finishes it. Days with zero events in
    the calendar simply don't appear (the calendar join pins that
    semantics — mirrored exactly in the oracle; metric_day is emitted
    as a timestamp, the events_retention convention for the DATE
    pandas-bridge divergence).

    At 100 TB: events→(day,user) is the dominant cost and is exactly
    one partial-aggregated exchange; the exploded contribution frame is
    |users|·|active days|·N — day-grain, orders of magnitude smaller
    than events — and the final distinct-count shuffles only that. The
    same shape computes rolling distinct over ANY window length by
    changing the explode constant, and sketches (HLL per day, unioned
    over the window — agg_hll_sketch's mergeability) replace the exact
    distinct when |users| itself is huge."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    contrib = du.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(_ROLLING_DAYS - 1))
        ).alias("i"),
        "day",
        "user_id",
    ).select(F.date_add(F.col("day"), F.col("i")).alias("metric_day"), "user_id")
    cal = ev.select(F.col("ts").cast("date").alias("metric_day")).distinct()
    return (
        contrib.join(F.broadcast(cal), "metric_day")
        .groupBy(F.col("metric_day").cast("timestamp").alias("metric_day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users"))
    )


# --- graph_triangle_count --------------------------------------------------

_TRI_N = 500  # node-space size for the derived graph


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH raw AS (
      SELECT o_orderkey % {_TRI_N} AS a,
             ((o_orderkey // {_TRI_N}) * 13 + (o_orderkey % {_TRI_N}) * 7 + 1)
               % {_TRI_N} AS b
      FROM orders
    ),
    e AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      FROM raw WHERE a <> b
    ),
    t AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    n AS (
      SELECT a AS node FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM n GROUP BY 1
    """,
    tags=("graph", "triangle", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts — the clustering-coefficient / community-
    density primitive that completes the graph family (components,
    pagerank, LPA, triangles), in the standard shuffle-disciplined form
    (Suri & Vassilvitskii's MapReduce triangle counting): orient every
    edge low→high id, join oriented 2-paths (u<v<w by construction —
    each triangle is enumerated exactly ONCE, no 6× duplication to
    dedup), close them against the edge list, then explode each triangle
    to its 3 corners for the per-node rollup. Edge orientation is THE
    scale trick: the 2-path join fans out per middle node as
    out-degree², and orienting by id caps out-degree at the ~√(2m)
    h-index of the degree sequence instead of the raw max degree — the
    difference between a feasible and an infeasible join on power-law
    graphs. Input graph derives deterministically from orders (mixed
    congruential edge ends over {_TRI_N} nodes — dense enough to carry
    real triangles), so the three-way join is bit-exact against the SQL
    oracle. Physical: two BROADCAST joins probed by the 2-path stream
    (the edge list is the small side twice; nothing 2-path-sized ever
    shuffles) + one explode-rollup; no driver loop, no iteration. Two
    r11 profile wins, both value-identical (A/B'd):
    - the closing join probes on ONE packed bigint (a·N + c, N > max
      node id) instead of the (a, c) two-key tuple — Spark builds a
      LongHashedRelation for single-bigint keys vs generic unsafe-row
      hashing for composite keys, and at 14.6 M probes that is the
      key's hot loop (measured 6.1 → 2.5 s at sf0.1);
    - corners explode once via explode(array(a,b,c)) instead of a
      3-branch unionAll over the join subtree (exchange reuse covers
      the scans but each branch re-probed the closing join).
    The oriented edge subtree appears in all three join branches
    (3× scan+distinct): an interleaved A/B at sf0.1 measured a
    localCheckpoint barrier a wash-to-slower (the 2-path stream
    dominates), so the recompute stays locally; at cluster scale the
    edge frame is the thing you persist() once instead."""
    o = table(spark, sf_dir, "orders")
    raw = o.select(
        (F.col("o_orderkey") % _TRI_N).alias("a"),
        (
            (F.expr(f"o_orderkey DIV {_TRI_N}") * 13
             + (F.col("o_orderkey") % _TRI_N) * 7 + 1) % _TRI_N
        ).alias("b"),
    ).filter(F.col("a") != F.col("b"))
    e = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select((F.col("u") * _TRI_N + F.col("v")).alias("ac3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .withColumn("ac", F.col("a") * _TRI_N + F.col("c"))
        .join(e3, F.col("ac") == F.col("ac3"))
        .select("a", "b", "c")
    )
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
