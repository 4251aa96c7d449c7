"""Round-6 session-3 batches: graph link-prediction/local-structure
(clustering coefficient, Adamic–Adar), interval coalescing
(gaps-and-islands), freshness DQ, readability scoring, EWMA folds,
bitmap rollups, JL projection, and text curation screens.

Reference trace: none of this surface exists in the reference
(ETLCNPJFinalEmpresaEstabelecimentos.py); these extend the
graph/events/dq/text families along SURVEY.md §2.2b, each with a full
DuckDB oracle.

Determinism notes (house rules, registry.py module docstring):
- everything integer where possible (counts, epoch seconds, ppm via
  bigint DIV);
- the one log-weighted score (Adamic–Adar) micro-quantizes ln() PER
  DISTINCT DEGREE before any summation — the exact discipline
  text_char_entropy proved green across engines (JVM Math.log ≡
  DuckDB ln at 1e-6 quantization on this box, NOTES.md);
- orderings are total (unique-key tiebreakers); top-k is
  TakeOrderedAndProject on the Spark side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from etl_cnpjs_spark.catalog import table
from etl_cnpjs_spark.memo import session_memo, session_tmpdir
from etl_cnpjs_spark.plans.registry import register

# --- graph_clustering_coeff -------------------------------------------------
#
# Local clustering coefficient on the near-dup doc graph (same edge
# list every graph_* key uses: exact-Jaccard pairs, plans/dedup.py):
# lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2, in ppm. The
# "how clique-ish is this node's neighborhood" feature that separates
# template-burst duplicates (lcc → 1) from chain-shaped drift
# (lcc → 0) in a dedup review queue.


def _lcc_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS

    return (
        _SQL_PAIRS
        + """
      , tri AS (
        SELECT p1.i AS a, p1.j AS b, p2.j AS c
        FROM pairs p1 JOIN pairs p2 ON p1.j = p2.i
        JOIN pairs p3 ON p3.i = p1.i AND p3.j = p2.j),
      corner AS (
        SELECT a AS v FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri),
      tcnt AS (SELECT v, CAST(count(*) AS BIGINT) AS tri_cnt FROM corner GROUP BY 1),
      und AS (SELECT i AS v FROM pairs UNION ALL SELECT j FROM pairs),
      deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM und GROUP BY 1)
      SELECT d.v AS node_id, d.degree,
             CAST(coalesce(t.tri_cnt, 0) AS BIGINT) AS tri_cnt,
             CAST(2 * coalesce(t.tri_cnt, 0) * 1000000
                  // (d.degree * (d.degree - 1)) AS BIGINT) AS lcc_ppm
      FROM deg d LEFT JOIN tcnt t ON d.v = t.v
      WHERE d.degree >= 2
    """
    )


@register("graph_clustering_coeff", oracle=_lcc_oracle(), tags=("graph", "dedup"))
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (ppm, integer).

    Shapes: triangles enumerate ONCE in oriented a<b<c form (the
    Suri–Vassilvitskii discipline graph_triangle_count adjudicated at
    10×: two-path equi-join keyed on the midpoint + one semi-join on
    the closing edge), then each triangle credits its 3 corners via a
    3-way unionAll — no per-node neighborhood self-join (which would
    be Σ deg² per node instead of per graph). Degree is one unionAll +
    groupBy on the same edge frame. All-integer output."""
    from etl_cnpjs_spark.plans.dedup import _exact_pairs

    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    p1 = pairs.select(F.col("i").alias("a"), F.col("j").alias("b"))
    p2 = pairs.select(F.col("i").alias("b"), F.col("j").alias("c"))
    closing = pairs.select(F.col("i").alias("a"), F.col("j").alias("c"))
    tri = (
        p1.join(p2, "b")
        .join(closing, ["a", "c"], "semi")
        .select("a", "b", "c")
    )
    corner = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
    )
    tcnt = corner.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("tri_cnt"))
    und = pairs.select(F.col("i").alias("v")).unionAll(
        pairs.select(F.col("j").alias("v"))
    )
    deg = und.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    out = (
        deg.filter(F.col("degree") >= 2)
        .join(tcnt, "v", "left")
        .select(
            F.col("v").alias("node_id"),
            "degree",
            F.coalesce(F.col("tri_cnt"), F.lit(0)).cast("bigint").alias("tri_cnt"),
        )
    )
    return out.select(
        "node_id",
        "degree",
        "tri_cnt",
        F.expr("2 * tri_cnt * 1000000 DIV (degree * (degree - 1))")
        .cast("bigint")
        .alias("lcc_ppm"),
    )


# --- graph_adamic_adar ------------------------------------------------------
#
# Adamic–Adar link prediction on the same graph: for non-adjacent
# (u < v), score = Σ_{x ∈ N(u)∩N(v)} 1/ln(deg(x)) — the
# frequency-damped refinement of graph_common_neighbors (a shared
# hub midpoint is weak evidence; a shared rare midpoint is strong).
# Midpoints on a 2-path always have deg ≥ 2, so ln(deg) > 0.

_AA_TOPK = 100


def _aa_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS

    return (
        _SQL_PAIRS
        + f"""
      , edges AS (SELECT i AS a, j AS b FROM pairs UNION ALL SELECT j, i FROM pairs),
      deg AS (SELECT a AS x, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
      w AS (SELECT x, CAST(floor(1000000 / ln(CAST(d AS DOUBLE)) + 0.5) AS BIGINT)
                 AS w_micro FROM deg WHERE d >= 2),
      two_path AS (
        SELECT e1.a AS u, e2.b AS v, CAST(sum(w.w_micro) AS BIGINT) AS aa_micro,
               CAST(count(*) AS BIGINT) AS common_cnt
        FROM edges e1 JOIN edges e2 ON e1.b = e2.a AND e1.a < e2.b
        JOIN w ON w.x = e1.b
        GROUP BY 1, 2),
      nonadj AS (
        SELECT t.u, t.v, t.aa_micro, t.common_cnt
        FROM two_path t LEFT JOIN pairs p ON t.u = p.i AND t.v = p.j
        WHERE p.i IS NULL)
      SELECT u, v, common_cnt, aa_micro FROM nonadj
      ORDER BY aa_micro DESC, u, v LIMIT {_AA_TOPK}
    """
    )


@register("graph_adamic_adar", oracle=_aa_oracle(), tags=("graph", "dedup", "ml"))
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar scores for the top-100 non-adjacent pairs (micro
    units, integer).

    Determinism: 1/ln(deg) is floor-quantized to micro PER DISTINCT
    MIDPOINT (one libm call per node — the text_char_entropy ln()
    discipline), then bigint-summed per pair; no cross-row float
    accumulation. Shapes: degree frame is node-count sized and
    broadcast onto the 2-path join (midpoint key, the triangle-join
    envelope); existing-edge removal is one left-anti; final top-k is
    TakeOrderedAndProject."""
    from etl_cnpjs_spark.plans.dedup import _exact_pairs

    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    fwd = pairs.select(F.col("i").alias("a"), F.col("j").alias("b"))
    rev = pairs.select(F.col("j").alias("a"), F.col("i").alias("b"))
    edges = fwd.unionAll(rev)
    deg = edges.groupBy(F.col("a").alias("x")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    w = deg.filter(F.col("d") >= 2).select(
        "x",
        F.floor(F.lit(1000000.0) / F.log(F.col("d").cast("double")) + 0.5)
        .cast("bigint")
        .alias("w_micro"),
    )
    e1 = edges.select(F.col("a").alias("u"), F.col("b").alias("x"))
    e2 = edges.select(F.col("a").alias("x"), F.col("b").alias("v"))
    two_path = (
        e1.join(e2, "x")
        .filter(F.col("u") < F.col("v"))
        .join(F.broadcast(w), "x")
        .groupBy("u", "v")
        .agg(
            F.sum("w_micro").cast("bigint").alias("aa_micro"),
            F.count(F.lit(1)).cast("bigint").alias("common_cnt"),
        )
    )
    nonadj = two_path.join(
        pairs,
        (two_path["u"] == pairs["i"]) & (two_path["v"] == pairs["j"]),
        "left_anti",
    )
    return nonadj.select("u", "v", "common_cnt", "aa_micro").orderBy(
        F.desc("aa_micro"), "u", "v"
    ).limit(_AA_TOPK)


# --- events_interval_merge --------------------------------------------------
#
# Gaps-and-islands interval coalescing: each event opens a
# [ts, ts+300 s) activity interval; per user, overlapping/touching
# intervals merge into maximal busy periods. THE classic sessionless
# "when was this entity active" rollup (uptime stitching, meeting
# overlap, GPU-busy spans) — distinct from events_sessionize (gap
# threshold between POINTS) in that it merges INTERVALS, the form that
# generalizes to duration-carrying input.

_IM_PAD_S = 300


_IM_SQL = f"""
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + {_IM_PAD_S} AS f, event_id
      FROM events),
    m AS (
      SELECT user_id, s, f, event_id,
             max(f) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_f
      FROM e),
    fl AS (
      SELECT user_id, s, f, event_id,
             CASE WHEN prev_max_f IS NULL OR s > prev_max_f THEN 1 ELSE 0 END
               AS new_island
      FROM m),
    isl AS (
      SELECT user_id, s, f,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM fl)
    SELECT user_id, CAST(island AS BIGINT) AS island,
           CAST(min(s) AS BIGINT) AS start_s,
           CAST(max(f) AS BIGINT) AS end_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(f) - min(s) AS BIGINT) AS span_s
    FROM isl GROUP BY 1, 2
    """


@register("events_interval_merge", oracle=_IM_SQL, tags=("events", "timeseries"))
def events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user activity intervals (epoch-second
    integers throughout).

    Shapes: ONE exchange on user_id serves both window passes (the
    running max(end) that detects island starts and the running sum
    that numbers them share partitioning AND ordering → a single sort,
    no second shuffle) plus the final (user, island) groupBy, which is
    a prefix of the same ordering. Island starts are well-defined
    under ts ties (tied rows see the same prev_max_f; the event_id
    tiebreaker makes the running sum total-ordered)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        (F.unix_timestamp("ts").cast("bigint") + _IM_PAD_S).alias("f"),
        "event_id",
    )
    ws = W.partitionBy("user_id").orderBy("s", "event_id")
    m = ev.withColumn(
        "prev_max_f", F.max("f").over(ws.rowsBetween(W.unboundedPreceding, -1))
    )
    fl = m.withColumn(
        "new_island",
        F.when(
            F.col("prev_max_f").isNull() | (F.col("s") > F.col("prev_max_f")), 1
        ).otherwise(0),
    )
    isl = fl.withColumn(
        "island",
        F.sum("new_island").over(ws.rowsBetween(W.unboundedPreceding, 0)),
    )
    return isl.groupBy("user_id", F.col("island").cast("bigint").alias("island")).agg(
        F.min("s").cast("bigint").alias("start_s"),
        F.max("f").cast("bigint").alias("end_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("f") - F.min("s")).cast("bigint").alias("span_s"),
    )


# --- dq_freshness -----------------------------------------------------------
#
# Per-partition staleness report: for each event_type, the newest
# event vs the corpus watermark, in seconds, plus a stale flag at 24 h
# — the "did source X stop delivering" check every scheduled pipeline
# fronts its SLAs with (complements dq_check's value rules and
# events_gap_detect's intra-series holes).

_FRESH_STALE_S = 86400


_FRESH_SQL = f"""
    WITH mx AS (SELECT max(ts) AS wm FROM events),
    p AS (
      SELECT event_type, max(ts) AS newest, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1)
    SELECT p.event_type, CAST(floor(epoch(p.newest)) AS BIGINT) AS newest_epoch_s,
           CAST(floor(epoch(mx.wm)) - floor(epoch(p.newest)) AS BIGINT) AS lag_s,
           CAST(CASE WHEN floor(epoch(mx.wm)) - floor(epoch(p.newest))
                          > {_FRESH_STALE_S}
                     THEN 1 ELSE 0 END AS BIGINT) AS is_stale,
           p.n_events
    FROM p, mx
    """


@register("dq_freshness", oracle=_FRESH_SQL, tags=("dq", "events"))
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness lag per event_type vs the corpus watermark (epoch
    seconds, integer).

    Shapes: one map-side-combined groupBy on event_type (cardinality ≈
    a handful) and a 1-row broadcast for the watermark; at 100 TB this
    reads the partition column's metadata path (max(ts) per partition
    prunes to footer stats under a ts-partitioned layout —
    sink_partitioned is the writer counterpart)."""
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("wm"))
    p = ev.groupBy("event_type").agg(
        F.max("ts").alias("newest"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    out = p.crossJoin(F.broadcast(mx))
    lag = F.unix_timestamp("wm") - F.unix_timestamp("newest")
    return out.select(
        "event_type",
        F.unix_timestamp("newest").cast("bigint").alias("newest_epoch_s"),
        lag.cast("bigint").alias("lag_s"),
        F.when(lag > _FRESH_STALE_S, 1).otherwise(0).cast("bigint").alias(
            "is_stale"
        ),
        "n_events",
    )


# --- text_readability -------------------------------------------------------
#
# Surface readability features per document: sentence count (split on
# [.!?]+ runs), words/sentence, chars/word, long-word (≥7 chars)
# share, and a LIX-style difficulty score — the standard
# syllable-free readability family (LIX = words/sentences +
# 100·longwords/words), all in integer ppm so both engines agree
# bit-for-bit.


_READ_SQL = """
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0),
    sent AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                                  s -> length(trim(s)) > 0)) AS BIGINT)
               AS n_sentences
      FROM d),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM d),
    wrd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(length(w)) AS BIGINT) AS n_word_chars,
             CAST(sum(CASE WHEN length(w) >= 7 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_long
      FROM tok GROUP BY 1)
    SELECT w.doc_id, s.n_sentences, w.n_words, w.n_long,
           CAST(w.n_words * 1000000 // greatest(s.n_sentences, 1) AS BIGINT)
             AS words_per_sentence_ppm,
           CAST(w.n_word_chars * 1000000 // w.n_words AS BIGINT)
             AS chars_per_word_ppm,
           CAST(w.n_long * 1000000 // w.n_words AS BIGINT) AS long_word_ppm,
           CAST(w.n_words * 1000000 // greatest(s.n_sentences, 1)
                + w.n_long * 100000000 // w.n_words AS BIGINT) AS lix_ppm
    FROM wrd w JOIN sent s ON w.doc_id = s.doc_id
    """


@register("text_readability", oracle=_READ_SQL, tags=("text", "north_star"))
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIX-style readability features per document (integer ppm).

    Shapes: sentence counting is a per-row expression (no explode);
    the word rollup reuses the one (doc, token) explode+aggregate path
    every text_* feature shares, map-side combined on doc_id; the
    final join is doc-grain ⋈ doc-grain on the same key. Sentence
    split is [.!?]+ with empty-segment filtering, textually mirrored
    in both engines (never split-on-empty-regex)."""
    from etl_cnpjs_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    sent = d.select(
        "doc_id",
        F.expr(
            "size(filter(split(text, '[.!?]+'), s -> length(trim(s)) > 0))"
        )
        .cast("bigint")
        .alias("n_sentences"),
    )
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    wrd = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.length("w")).cast("bigint").alias("n_word_chars"),
        F.sum(F.when(F.length("w") >= 7, 1).otherwise(0))
        .cast("bigint")
        .alias("n_long"),
    )
    out = wrd.join(sent, "doc_id")
    return out.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_long",
        F.expr("n_words * 1000000 DIV greatest(n_sentences, 1)")
        .cast("bigint")
        .alias("words_per_sentence_ppm"),
        F.expr("n_word_chars * 1000000 DIV n_words")
        .cast("bigint")
        .alias("chars_per_word_ppm"),
        F.expr("n_long * 1000000 DIV n_words").cast("bigint").alias("long_word_ppm"),
        F.expr(
            "n_words * 1000000 DIV greatest(n_sentences, 1)"
            " + n_long * 100000000 DIV n_words"
        )
        .cast("bigint")
        .alias("lix_ppm"),
    )


# --- window_ewma ------------------------------------------------------------
#
# Exponentially weighted moving average over a trailing 20-row frame
# per event_type: s = fold(s·(1−α) + x·α) left-to-right across the
# frame, seeded by the frame's first value — the smoothing primitive
# under monitoring dashboards and adstock/carryover features that a
# plain windowed AVG can't express (recency weighting). Both engines
# fold the SAME value sequence in the SAME order with the SAME two
# IEEE ops per step, so the double result is bit-identical before the
# safety quantization.

_EWMA_ALPHA = 0.5
_EWMA_WIN = 20


_EWMA_SQL = f"""
    WITH o AS (
      SELECT event_type, event_id, value,
             list(value) OVER (PARTITION BY event_type
                               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                               ROWS BETWEEN {_EWMA_WIN - 1} PRECEDING
                                        AND CURRENT ROW) AS frame
      FROM events)
    SELECT event_type, event_id,
           floor(value * 1e6 + 0.5) / 1e6 AS value_q,
           floor(list_reduce(frame,
                             (acc, x) -> acc * {1.0 - _EWMA_ALPHA} +
                                         x * {_EWMA_ALPHA}) * 1e6 + 0.5) / 1e6
             AS ewma_q
    FROM o
    """


@register("window_ewma", oracle=_EWMA_SQL, tags=("window", "timeseries"))
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-frame EWMA per event_type (quantized doubles).

    Determinism: collect_list over a sorted row frame yields the frame
    rows IN FRAME ORDER in both engines; F.aggregate / list_reduce
    both run a LEFT fold seeded by the first element (Spark folds
    slice(l, 2, …) from element_at(l, 1); DuckDB's list_reduce without
    an init does exactly that), and each step is acc·(1−α) + x·α in
    that textual order — bit-identical IEEE sequences, quantized at
    the boundary only as harness safety. Shapes: one exchange on
    event_type, one sort, a bounded 20-row frame (state O(win) per
    row — no unbounded running state); the fold is a codegen'd
    higher-order function, not a UDF."""
    ev = table(spark, sf_dir, "events")
    ws = (
        W.partitionBy("event_type")
        .orderBy(F.unix_timestamp("ts").cast("bigint"), "event_id")
        .rowsBetween(-(_EWMA_WIN - 1), 0)
    )
    o = ev.select(
        "event_type",
        "event_id",
        "value",
        F.collect_list("value").over(ws).alias("frame"),
    )
    fold = (
        f"aggregate(slice(frame, 2, greatest(size(frame) - 1, 0)), "
        f"element_at(frame, 1), "
        f"(acc, x) -> acc * {1.0 - _EWMA_ALPHA}D + x * {_EWMA_ALPHA}D)"
    )
    return o.select(
        "event_type",
        "event_id",
        F.expr("floor(value * 1e6 + 0.5) / 1e6").alias("value_q"),
        F.expr(f"floor(({fold}) * 1e6 + 0.5) / 1e6").alias("ewma_q"),
    )


# --- agg_grouping_sets_df ---------------------------------------------------
#
# GROUPING SETS via the Spark 4 DataFrame groupingSets() API (the
# existing agg_grouping_sets key covers the SQL form; this one pins
# the typed API surface):
# ((priority, status), (priority), (status), ()) over orders, with
# per-column GROUPING() flags (engine-portable, unlike GROUPING_ID's
# engine-specific bit order) and NULL-distinguishing labels.


_GSETS_SQL = """
    SELECT coalesce(o_orderpriority, '(all)') AS priority,
           coalesce(o_orderstatus, '(all)') AS status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    """


@register("agg_grouping_sets_df", oracle=_GSETS_SQL, tags=("agg",))
def agg_grouping_sets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with portable GROUPING() flags (all-integer
    money via cent-quantized accumulation).

    Shapes: Spark's Expand operator replicates each input row once per
    grouping set BEFORE the single hash aggregate — one exchange total
    (keyed on the expanded grouping tuple), exactly what agg_rollup/
    agg_cube already do; sets share map-side partials. GROUPING() per
    column instead of GROUPING_ID() because the two engines pack the
    bit vector in opposite orders — per-column flags are the portable
    (and self-documenting) surface."""
    o = table(spark, sf_dir, "orders")
    g = o.groupingSets(
        [
            [F.col("o_orderpriority"), F.col("o_orderstatus")],
            [F.col("o_orderpriority")],
            [F.col("o_orderstatus")],
            [],
        ],
        F.col("o_orderpriority"),
        F.col("o_orderstatus"),
    ).agg(
        F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )
    return g.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
        "g_priority",
        "g_status",
        "n_orders",
        "total_cents",
    )


# --- fn_string_distance -----------------------------------------------------
#
# Edit-distance function surface: levenshtein() agrees between Spark
# and DuckDB (same Wagner–Fischer DP, no transposition). Distances of
# each customer name to the canonical template and to a digit-smudged
# variant — the fuzzy-key toolkit dedup_fuzzy_names builds on, exposed
# as a scalar-function key like fn_string/fn_regexp.


_STRDIST_SQL = """
    SELECT c_custkey,
           CAST(levenshtein(c_name, 'Customer#000000000') AS BIGINT)
             AS d_template,
           CAST(levenshtein(c_name, replace(c_name, '0', 'O')) AS BIGINT)
             AS d_smudge,
           CAST((length(c_name) - levenshtein(c_name, 'Customer#000000000'))
                * 1000000 // length(c_name) AS BIGINT) AS sim_template_ppm
    FROM customer
    """


@register("fn_string_distance", oracle=_STRDIST_SQL, tags=("functions", "dedup"))
def fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distances per customer name (integer).

    Per-row scalar expressions only — no shuffle, no UDF; both engines
    implement the identical unit-cost DP. The ppm similarity uses the
    integer DIV discipline."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000000"))
        .cast("bigint")
        .alias("d_template"),
        F.levenshtein(
            F.col("c_name"), F.regexp_replace(F.col("c_name"), "0", "O")
        )
        .cast("bigint")
        .alias("d_smudge"),
        F.expr(
            "(length(c_name) - levenshtein(c_name, 'Customer#000000000'))"
            " * 1000000 DIV length(c_name)"
        )
        .cast("bigint")
        .alias("sim_template_ppm"),
    )


# --- agg_ratio_ci -----------------------------------------------------------
#
# Wilson 95% score interval for a conversion ratio per event_type:
# the A/B-report CI that stays inside [0,1] at small n (unlike the
# Wald interval events_ab_lift would naively imply). k = events with
# value above the threshold; all double arithmetic is a fixed textual
# formula over exact integers (k, n) with a correctly-rounded sqrt,
# then ppm-quantized.

_RCI_Z = 1.96
_RCI_THRESH = 50.0


_RCI_SQL = f"""
    WITH a AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > {_RCI_THRESH} THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1)
    SELECT event_type, n, k,
           CAST(floor(CAST(k AS DOUBLE) / n * 1000000 + 0.5) AS BIGINT) AS p_ppm,
           CAST(floor(
             (CAST(k AS DOUBLE) / n + {_RCI_Z} * {_RCI_Z} / (2.0 * n)
              - {_RCI_Z} * sqrt(CAST(k AS DOUBLE) / n
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + {_RCI_Z} * {_RCI_Z} / (4.0 * n * n)))
             / (1.0 + {_RCI_Z} * {_RCI_Z} / n) * 1000000 + 0.5) AS BIGINT)
             AS lo_ppm,
           CAST(floor(
             (CAST(k AS DOUBLE) / n + {_RCI_Z} * {_RCI_Z} / (2.0 * n)
              + {_RCI_Z} * sqrt(CAST(k AS DOUBLE) / n
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + {_RCI_Z} * {_RCI_Z} / (4.0 * n * n)))
             / (1.0 + {_RCI_Z} * {_RCI_Z} / n) * 1000000 + 0.5) AS BIGINT)
             AS hi_ppm
    FROM a
    """


@register("agg_ratio_ci", oracle=_RCI_SQL, tags=("agg", "events", "ml"))
def agg_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% CI per event_type conversion ratio (ppm integers).

    Determinism: the only aggregates are exact integer (k, n); the CI
    is a per-group scalar formula written ONCE and textually mirrored
    (same operation order, correctly-rounded IEEE sqrt in both
    engines), then floor-quantized. Shapes: one map-side-combined
    groupBy on a tiny key domain."""
    ev = table(spark, sf_dir, "events")
    a = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > _RCI_THRESH, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    z2 = _RCI_Z * _RCI_Z
    p = "CAST(k AS DOUBLE) / n"
    rad = f"sqrt({p} * (1.0 - {p}) / n + {z2:.4f} / (4.0 * n * n))"
    lo = f"({p} + {z2:.4f} / (2.0 * n) - {_RCI_Z} * {rad}) / (1.0 + {z2:.4f} / n)"
    hi = f"({p} + {z2:.4f} / (2.0 * n) + {_RCI_Z} * {rad}) / (1.0 + {z2:.4f} / n)"
    return a.select(
        "event_type",
        "n",
        "k",
        F.expr(f"CAST(floor({p} * 1000000 + 0.5) AS BIGINT)").alias("p_ppm"),
        F.expr(f"CAST(floor(({lo}) * 1000000 + 0.5) AS BIGINT)").alias("lo_ppm"),
        F.expr(f"CAST(floor(({hi}) * 1000000 + 0.5) AS BIGINT)").alias("hi_ppm"),
    )


# --- events_burstiness ------------------------------------------------------
#
# Goh–Barabási burstiness per user: B = (σ − μ)/(σ + μ) over the
# inter-arrival gaps (−1 = perfectly periodic, 0 = Poisson, → 1 =
# bursty). The temporal-signature feature next to events_fano_factor
# (which measures count dispersion, not gap dispersion). Gap moments
# accumulate as exact integers; σ and B are one fixed-order double
# formula per user, ppm-quantized (micro would overflow nothing, but
# ppm matches the family's resolution).


_BURST_SQL = """
    WITH o AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id
                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS prev_s
      FROM events),
    g AS (
      SELECT user_id, s - prev_s AS gap FROM o WHERE prev_s IS NOT NULL),
    m AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS sum_g,
             CAST(sum(gap * gap) AS BIGINT) AS sum_g2
      FROM g GROUP BY 1)
    SELECT user_id, n_gaps,
           CAST(sum_g // n_gaps AS BIGINT) AS mean_gap_s,
           CAST(floor(sqrt(greatest(
                  CAST(sum_g2 AS DOUBLE) / n_gaps
                  - (CAST(sum_g AS DOUBLE) / n_gaps)
                    * (CAST(sum_g AS DOUBLE) / n_gaps), 0.0)) * 1000000 + 0.5)
                AS BIGINT) AS std_gap_micro_s,
           CAST(floor(
             (sqrt(greatest(CAST(sum_g2 AS DOUBLE) / n_gaps
                            - (CAST(sum_g AS DOUBLE) / n_gaps)
                              * (CAST(sum_g AS DOUBLE) / n_gaps), 0.0))
              - CAST(sum_g AS DOUBLE) / n_gaps)
             / (sqrt(greatest(CAST(sum_g2 AS DOUBLE) / n_gaps
                              - (CAST(sum_g AS DOUBLE) / n_gaps)
                                * (CAST(sum_g AS DOUBLE) / n_gaps), 0.0))
                + CAST(sum_g AS DOUBLE) / n_gaps) * 1000000 + 0.5) AS BIGINT)
             AS burstiness_ppm
    FROM m WHERE n_gaps >= 2 AND sum_g > 0
    """


@register("events_burstiness", oracle=_BURST_SQL, tags=("events", "timeseries"))
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness B = (σ−μ)/(σ+μ) per user (ppm).

    Shapes: one exchange on user_id serves the lag window AND the
    moment aggregate (same key); moments are exact bigints (gaps are
    epoch-second integers; Σg² fits bigint through sf100 — 1e4-second
    gaps squared × 1e9 rows ≈ 1e17 < 9.2e18), so the per-user double
    formula is the only float code and runs once per user."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        "event_id",
    )
    wl = W.partitionBy("user_id").orderBy("s", "event_id")
    g = (
        ev.withColumn("prev_s", F.lag("s").over(wl))
        .filter(F.col("prev_s").isNotNull())
        .select("user_id", (F.col("s") - F.col("prev_s")).alias("gap"))
    )
    m = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap").cast("bigint").alias("sum_g"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("sum_g2"),
    )
    mu = "CAST(sum_g AS DOUBLE) / n_gaps"
    var = f"greatest(CAST(sum_g2 AS DOUBLE) / n_gaps - ({mu}) * ({mu}), 0.0)"
    return m.filter((F.col("n_gaps") >= 2) & (F.col("sum_g") > 0)).select(
        "user_id",
        "n_gaps",
        F.expr("sum_g DIV n_gaps").cast("bigint").alias("mean_gap_s"),
        F.expr(
            f"CAST(floor(sqrt({var}) * 1000000 + 0.5) AS BIGINT)"
        ).alias("std_gap_micro_s"),
        F.expr(
            f"CAST(floor((sqrt({var}) - {mu}) / (sqrt({var}) + {mu})"
            f" * 1000000 + 0.5) AS BIGINT)"
        ).alias("burstiness_ppm"),
    )


# --- events_user_entropy ----------------------------------------------------
#
# Behavioral diversity per user: Shannon entropy over the user's
# event_type mix (micro-nats, integer) plus normalized evenness —
# the text_char_entropy ln() discipline applied to the behavioral
# histogram (bot screens pair this with events_bot_flags: scripted
# accounts sit at entropy ≈ 0 or ≈ ln K exactly).


_UENT_SQL = """
    WITH hist AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT user_id, CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_types
      FROM hist GROUP BY 1),
    terms AS (
      SELECT h.user_id, t.total, t.n_types,
             h.n * CAST(floor(ln(CAST(h.n AS DOUBLE) / CAST(t.total AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT) AS term_micro
      FROM hist h JOIN tot t ON h.user_id = t.user_id)
    SELECT user_id, CAST(max(total) AS BIGINT) AS n_events,
           CAST(max(n_types) AS BIGINT) AS n_types,
           CAST(-sum(term_micro) // max(total) AS BIGINT) AS entropy_micro_nats
    FROM terms GROUP BY user_id
    """


@register("events_user_entropy", oracle=_UENT_SQL, tags=("events", "dq", "ml"))
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type entropy per user (micro-nats, integer).

    Determinism: identical to text_char_entropy — ln(p) floor-
    quantized per DISTINCT (user, type) histogram cell, bigint-
    weighted and summed, integer-divided by the user total; no
    cross-row float accumulation. Shapes: (user, type) partial counts
    map-side combine before one user_id exchange; everything after is
    histogram-sized (≤ |event_type| rows per user)."""
    ev = table(spark, sf_dir, "events")
    hist = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = hist.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    terms = hist.join(tot, "user_id").select(
        "user_id",
        "total",
        "n_types",
        (
            F.col("n")
            * F.floor(
                F.log(F.col("n").cast("double") / F.col("total").cast("double"))
                * 1000000
                + 0.5
            ).cast("bigint")
        ).alias("term_micro"),
    )
    return terms.groupBy("user_id").agg(
        F.max("total").cast("bigint").alias("n_events"),
        F.max("n_types").cast("bigint").alias("n_types"),
        F.expr("-sum(term_micro) DIV max(total)").cast("bigint").alias(
            "entropy_micro_nats"
        ),
    )


# --- agg_bitmap_words -------------------------------------------------------
#
# EXACT distinct counting via plain bigint-word bitmap OR — the
# engine-portable sibling of agg_bitmap_distinct (which pins Spark 4's
# bitmap_* aggregate surface; here the bitmap IS a bigint column, so
# the partials can persist in any parquet cube and re-aggregate in any
# engine): bucket user ids into 32-bit words (bucket = id DIV 32, bit =
# id % 32), bit_or the masks per (group, bucket), popcount-sum per
# group. Distinct-without-a-distinct: partials combine map-side like
# any sum (bit_or is associative/commutative/idempotent), so re-keyed
# rollups NEVER re-scan the fact table — the property
# count(DISTINCT) fundamentally lacks.


_BMD_SQL = """
    WITH m AS (
      SELECT event_type, user_id // 32 AS bucket,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS mask,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(bit_count(mask)) AS BIGINT) AS n_distinct_users
    FROM m GROUP BY 1
    """


@register("agg_bitmap_words", oracle=_BMD_SQL, tags=("agg", "events"))
def agg_bitmap_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type via bitmap OR (integer).

    Shapes: stage 1 groups on (event_type, id DIV 32) with bit_or —
    map-side combined, 32 ids collapse into one bigint; stage 2 sums
    popcounts per event_type over a frame 32× smaller than the id
    domain. At 100 TB this is the mergeable-rollup layout: bitmap
    partials persist in a cube and re-aggregate along any dimension
    without touching raw events (what agg_hll_sketch does lossily,
    done exactly when the id domain is dense enough to afford it)."""
    ev = table(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type", F.expr("user_id DIV 32").alias("bucket")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
        ).alias("mask"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return m.groupBy("event_type").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum(F.bit_count("mask")).cast("bigint").alias("n_distinct_users"),
    )


# --- sim_random_projection --------------------------------------------------
#
# Johnson–Lindenstrauss sign projection: embed 64-d vectors into 8
# dims via a FIXED ±1 matrix (seeded, embedded as literals in both
# plans — no runtime randomness), scaled by 1/√8. The
# dimensionality-reduction front end for sketch-space ANN (SimHash is
# this matrix's sign bits; here the projected coordinates themselves
# are the output). Dot products reuse the sequential-fold /
# list_dot_product pair every cosine key already proved
# engine-identical at 1e-6 quantization.

import random as _random

_RP_DIMS = 8
_RP_IN = 64
_rp_rng = _random.Random(20260815)
_RP_SIGNS = [
    [float(_rp_rng.choice((-1, 1))) for _ in range(_RP_IN)] for _ in range(_RP_DIMS)
]
_RP_SCALE = 0.3535533905932738  # 1/sqrt(8), fixed literal both engines


def _rp_oracle() -> str:
    cols = []
    for k, row in enumerate(_RP_SIGNS):
        lit = "[" + ", ".join(str(s) for s in row) + "]::DOUBLE[]"
        cols.append(
            f"floor(list_dot_product(embedding::DOUBLE[], {lit})"
            f" * {_RP_SCALE} * 1e6 + 0.5) / 1e6 AS proj_{k}"
        )
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


@register("sim_random_projection", oracle=_rp_oracle(), tags=("similarity", "ml"))
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 sign projection 64-d → 8-d (quantized doubles).

    Shapes: pure per-row map — zero shuffles; the 8×64 matrix lives in
    the plan as literals (closed over at codegen, broadcast-free). The
    fold/list_dot_product determinism pair is the one
    operators/similarity.py established. At 100 TB this is the
    cheapest pre-LSH compaction: 8 doubles/row downstream instead of
    64 floats."""
    from etl_cnpjs_spark.operators.similarity import dot, vec_double

    e = table(spark, sf_dir, "embeddings")
    v = vec_double(F.col("embedding"))
    out = [F.col("vec_id")]
    for k, row in enumerate(_RP_SIGNS):
        signs = F.array(*[F.lit(s) for s in row])
        out.append(
            (
                F.floor(dot(v, signs) * _RP_SCALE * 1e6 + 0.5) / 1e6
            ).alias(f"proj_{k}")
        )
    return e.select(*out)


# --- text_code_detect -------------------------------------------------------
#
# Code-vs-prose screen: symbol density ({} ; = () <>), digit share,
# and whitespace-run structure — the cheap curation gate that routes
# documents to a code pipeline before any tokenizer runs. Counting by
# length-difference (len(text) − len(replace(text, c, ''))) is exact,
# locale-free, and identical in both engines.


def _ccnt(c: str) -> str:
    esc = c.replace("'", "''")
    return f"(length(text) - length(replace(text, '{esc}', '')))"


_CODE_SYMS = "{};=()<>"
_CODE_SQL = f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST({' + '.join(_ccnt(c) for c in _CODE_SYMS)} AS BIGINT) AS n_sym,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
             AS n_digit,
           CAST(({' + '.join(_ccnt(c) for c in _CODE_SYMS)}) * 1000000
                // length(text) AS BIGINT) AS sym_ppm,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1000000
                // length(text) AS BIGINT) AS digit_ppm,
           CAST(CASE WHEN ({' + '.join(_ccnt(c) for c in _CODE_SYMS)}) * 1000000
                          // length(text) > 20000 THEN 1 ELSE 0 END AS BIGINT)
             AS is_code
    FROM documents WHERE length(text) > 0
    """


@register("text_code_detect", oracle=_CODE_SQL, tags=("text", "north_star"))
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol/digit-density code screen per document (integer ppm).

    Per-row expressions only (no explode, no shuffle); symbol counts
    via length-difference, digit counts via one regexp strip. The
    20 000 ppm (2%) symbol threshold is the conventional first-pass
    cut; downstream pipelines calibrate it per corpus."""
    d = table(spark, sf_dir, "documents", parallel=True).filter(F.length("text") > 0)
    sym = None
    for c in _CODE_SYMS:
        term = F.length("text") - F.length(F.regexp_replace("text", "\\" + c, ""))
        sym = term if sym is None else sym + term
    digit = F.length(F.regexp_replace("text", "[^0-9]", ""))
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        sym.cast("bigint").alias("n_sym"),
        digit.cast("bigint").alias("n_digit"),
        (sym * 1000000 / F.length("text"))
        .cast("bigint")
        .alias("sym_ppm"),
        (digit * 1000000 / F.length("text"))
        .cast("bigint")
        .alias("digit_ppm"),
        F.when((sym * 1000000 / F.length("text")).cast("bigint") > 20000, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_code"),
    )


# --- text_novelty -----------------------------------------------------------
#
# First-occurrence novelty: for each document, the share of its
# distinct shingles already seen in any EARLIER document (doc_id
# order = ingestion order). The incremental-crawl curation signal —
# "how much of this page is new text" — computed set-exactly from the
# same 5-gram shingle frame the whole dedup family shares.


def _novelty_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_SHINGLES

    return (
        _SQL_SHINGLES
        + """
      , e AS (SELECT doc_id, unnest(shingles) AS s FROM sh
              WHERE len(shingles) > 0),
      firsts AS (SELECT s, min(doc_id) AS first_doc FROM e GROUP BY 1)
      SELECT e.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN f.first_doc < e.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_seen,
             CAST((count(*) - sum(CASE WHEN f.first_doc < e.doc_id
                                       THEN 1 ELSE 0 END)) * 1000000
                  // count(*) AS BIGINT) AS novelty_ppm
      FROM e JOIN firsts f ON e.s = f.s
      GROUP BY e.doc_id
    """
    )


@register("text_novelty", oracle=_novelty_oracle(), tags=("text", "dedup"))
def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of never-seen-before shingles per document (ppm).

    Shapes: ONE shingle-keyed exchange serves both the global
    min(doc_id) aggregate and the join back to postings (same key →
    the sort/partitioning reuses); per-doc rollup is the standard
    doc-keyed combine. LINEAR in postings — this is the non-quadratic
    member of the shingle family (no self-join), so it scales past
    where pair enumeration needs the df-cap."""
    from etl_cnpjs_spark.plans.dedup import _doc_shingles

    sh = _doc_shingles(spark, sf_dir)
    e = sh.filter(F.size("sh") > 0).select(
        "doc_id", F.explode("sh").alias("s")
    )
    firsts = e.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    j = e.join(firsts, "s")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_seen"),
        F.expr(
            "(count(1) - sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END))"
            " * 1000000 DIV count(1)"
        )
        .cast("bigint")
        .alias("novelty_ppm"),
    )


# --- agg_bootstrap_ci -------------------------------------------------------
#
# Poisson bootstrap CI for the per-type mean of `value` — THE
# distributed bootstrap (Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google): instead of resampling n rows with
# replacement (impossible to coordinate across executors), each row
# gets an independent Poisson(1) weight per replicate. Weights come
# from the engine-portable multiplicative hash (sample_hash's idiom),
# inverse-CDF'd through FIXED integer thresholds — zero floats until
# the final interval, zero engine randomness, rerun-identical.

_BOOT_REPS = 32
_BOOT_KNUTH = 2654435761
_BOOT_MOD = 2**31
# P(Poisson(1) <= k) * 2^31, k = 0..4 (then clamp at 5)
_BOOT_T = (789972268, 1579944537, 1974930671, 2106592716, 2139508227)


def _boot_w(h: str) -> str:
    """Integer Poisson(1) inverse CDF over h ∈ [0, 2^31)."""
    return (
        f"(CASE WHEN {h} < {_BOOT_T[0]} THEN 0"
        f" WHEN {h} < {_BOOT_T[1]} THEN 1"
        f" WHEN {h} < {_BOOT_T[2]} THEN 2"
        f" WHEN {h} < {_BOOT_T[3]} THEN 3"
        f" WHEN {h} < {_BOOT_T[4]} THEN 4"
        f" ELSE 5 END)"
    )


def _boot_oracle() -> str:
    h = f"((event_id * {_BOOT_KNUTH} + r.rep * 97) % {_BOOT_MOD})"
    return f"""
    WITH reps AS (SELECT unnest(generate_series(1, {_BOOT_REPS})) AS rep),
    w AS (
      SELECT e.event_type, r.rep,
             {_boot_w(h)} AS w,
             CAST(floor(e.value * 1000000 + 0.5) AS BIGINT) AS x_micro
      FROM events e CROSS JOIN reps r),
    rm AS (
      SELECT event_type, rep,
             CAST(sum(w * x_micro) // greatest(sum(w), 1) AS BIGINT)
               AS rep_mean_micro
      FROM w GROUP BY 1, 2),
    rk AS (
      SELECT event_type, rep_mean_micro,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY rep_mean_micro, rep) AS rk
      FROM rm),
    pt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                  // count(*) AS BIGINT) AS mean_micro
      FROM events GROUP BY 1)
    SELECT pt.event_type, pt.n, pt.mean_micro,
           CAST(max(CASE WHEN rk.rk = 2 THEN rk.rep_mean_micro END) AS BIGINT)
             AS boot_lo_micro,
           CAST(max(CASE WHEN rk.rk = {_BOOT_REPS - 1}
                         THEN rk.rep_mean_micro END) AS BIGINT)
             AS boot_hi_micro
    FROM pt JOIN rk ON pt.event_type = rk.event_type
    GROUP BY 1, 2, 3
    """


@register("agg_bootstrap_ci", oracle=_boot_oracle(), tags=("agg", "ml", "stats"))
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap interval (2nd / 31st of 32 replicate means ≈
    93.75% CI) for each event_type's mean value — all-integer.

    Shapes: the replicate fan-out is a scan-side explode (×32 narrow
    rows carrying only (type, w, x_micro)); ONE exchange on
    (event_type, rep) aggregates replicate sums map-side combined; the
    rank pass runs over |types|·32 rows. At 100 TB the fan-out
    multiplies scan CPU, not shuffle bytes — partial aggregation
    collapses each task's 32 replicate partials before the wire,
    which is the entire point of the Poisson formulation."""
    ev = table(spark, sf_dir, "events")
    h = f"((event_id * {_BOOT_KNUTH} + rep * 97) % {_BOOT_MOD})"
    w = ev.select(
        "event_type",
        F.expr(f"explode(sequence(1, {_BOOT_REPS}))").alias("rep"),
        "event_id",
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("x_micro"),
    ).select(
        "event_type",
        "rep",
        F.expr(_boot_w(h)).alias("w"),
        "x_micro",
    )
    rm = w.groupBy("event_type", "rep").agg(
        F.expr("sum(w * x_micro) DIV greatest(sum(w), 1)")
        .cast("bigint")
        .alias("rep_mean_micro")
    )
    rk = rm.select(
        "event_type",
        "rep_mean_micro",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("rep_mean_micro", "rep"))
        .alias("rk"),
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) DIV count(1)"
        )
        .cast("bigint")
        .alias("mean_micro"),
    )
    return (
        pt.join(rk, "event_type")
        .groupBy("event_type", "n", "mean_micro")
        .agg(
            F.max(F.when(F.col("rk") == 2, F.col("rep_mean_micro")))
            .cast("bigint")
            .alias("boot_lo_micro"),
            F.max(
                F.when(F.col("rk") == _BOOT_REPS - 1, F.col("rep_mean_micro"))
            )
            .cast("bigint")
            .alias("boot_hi_micro"),
        )
    )


# --- text_encoding_screen ---------------------------------------------------
#
# Byte-hygiene curation screen: ASCII share, control characters
# (excluding \t \n \r), and U+FFFD replacement-char count — the
# mojibake/truncated-decode detector that runs before any tokenizer.
# Counting is length-difference over regexp strips, identical
# semantics in Java regex and RE2.


_ENC_SQL = """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))
                AS BIGINT) AS n_ascii,
           CAST(length(text)
                - length(regexp_replace(text,
                         '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g'))
                AS BIGINT) AS n_control,
           CAST(length(text) - length(replace(text, chr(65533), ''))
                AS BIGINT) AS n_replacement,
           CAST(length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))
                * 1000000 // length(text) AS BIGINT) AS ascii_ppm
    FROM documents WHERE length(text) > 0
    """


@register("text_encoding_screen", oracle=_ENC_SQL, tags=("text", "dq", "north_star"))
def text_encoding_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASCII share, stray control chars, and U+FFFD count per document
    (integer).

    Per-row expressions, no shuffle. The control-char class excludes
    \\t \\n \\r (legitimate whitespace); U+FFFD is counted by literal
    replace, not regex, so no engine's regex unicode mode is in
    play."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ascii_cnt = F.length(F.regexp_replace("text", "[^\\x00-\\x7F]", ""))
    ctrl = F.length("text") - F.length(
        F.regexp_replace("text", "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    )
    repl = F.length("text") - F.length(
        F.regexp_replace("text", "�", "")
    )
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        ascii_cnt.cast("bigint").alias("n_ascii"),
        ctrl.cast("bigint").alias("n_control"),
        repl.cast("bigint").alias("n_replacement"),
        (ascii_cnt * 1000000 / F.length("text"))
        .cast("bigint")
        .alias("ascii_ppm"),
    )


# --- embedding_pq -----------------------------------------------------------
#
# Product quantization (Jégou et al.): split each 64-d vector into 8
# subvectors of 8 dims, assign each to the nearest of 4 codebook
# entries per subspace, emit the 8 codes + total quantization error —
# the compression layout inside IVF-PQ indexes (8 bytes/vector
# instead of 256). Codebook = the subvectors of vec_id 0..3 (the
# k-means++ seeding step, frozen — deterministic both engines; a
# production index refines it with embedding_centroids iterations).
# Distances use the dot-product identity ‖a−b‖² = a·a − 2a·b + b·b in
# the SAME textual order both sides, micro-quantized BEFORE the
# argmin so ties and comparisons are integer.

_PQ_SUBS = 8
_PQ_SUBDIM = 8
_PQ_K = 4


def _pq_oracle() -> str:
    return f"""
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < {_PQ_K}),
    sub AS (SELECT unnest(generate_series(0, {_PQ_SUBS - 1})) AS s),
    d AS (
      SELECT n.vec_id, sub.s, seeds.cid,
             CAST(floor((
               list_dot_product(n.v[sub.s * {_PQ_SUBDIM} + 1 :
                                    (sub.s + 1) * {_PQ_SUBDIM}],
                                n.v[sub.s * {_PQ_SUBDIM} + 1 :
                                    (sub.s + 1) * {_PQ_SUBDIM}])
               - 2 * list_dot_product(n.v[sub.s * {_PQ_SUBDIM} + 1 :
                                          (sub.s + 1) * {_PQ_SUBDIM}],
                                      seeds.cv[sub.s * {_PQ_SUBDIM} + 1 :
                                               (sub.s + 1) * {_PQ_SUBDIM}])
               + list_dot_product(seeds.cv[sub.s * {_PQ_SUBDIM} + 1 :
                                           (sub.s + 1) * {_PQ_SUBDIM}],
                                  seeds.cv[sub.s * {_PQ_SUBDIM} + 1 :
                                           (sub.s + 1) * {_PQ_SUBDIM}])
             ) * 1000000 + 0.5) AS BIGINT) AS dist_micro
      FROM n CROSS JOIN sub CROSS JOIN seeds),
    best AS (
      SELECT vec_id, s, cid, dist_micro,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY dist_micro, cid) AS rk
      FROM d)
    SELECT vec_id,
           {', '.join(f"CAST(max(CASE WHEN s = {k} THEN cid END) AS BIGINT) AS code_{k}" for k in range(_PQ_SUBS))},
           CAST(sum(dist_micro) AS BIGINT) AS err_micro
    FROM best WHERE rk = 1 GROUP BY vec_id
    """


@register("embedding_pq", oracle=_pq_oracle(), tags=("similarity", "ml"))
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (8 × 2-bit) + reconstruction error
    per vector (integer micro).

    Shapes: the codebook frame is {_PQ_K} rows and BROADCAST; the
    (vector × 8 subspaces × 4 centroids) expansion is scan-side and
    narrow (32 small rows per vector), collapsed by one vec_id-keyed
    aggregate (the argmin folds into max-CASE over the rank window
    partitioned on (vec_id, s) — same exchange). At 100 TB: PQ codes
    shrink the ANN candidate scan 32×; assignment is embarrassingly
    parallel, exactly this plan with a trained codebook."""
    from etl_cnpjs_spark.operators.similarity import dot, vec_double

    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", vec_double(F.col("embedding")).alias("v")
    )
    seeds = e.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    sub = F.expr(f"explode(sequence(0, {_PQ_SUBS - 1}))").alias("s")
    exp = e.select("vec_id", "v", sub).crossJoin(F.broadcast(seeds))
    va = F.expr(f"slice(v, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})")
    vb = F.expr(f"slice(cv, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})")
    dist = dot(va, va) - 2 * dot(va, vb) + dot(vb, vb)
    d = exp.select(
        "vec_id",
        "s",
        "cid",
        F.floor(dist * 1000000 + 0.5).cast("bigint").alias("dist_micro"),
    )
    best = d.select(
        "vec_id",
        "s",
        "cid",
        "dist_micro",
        F.row_number()
        .over(W.partitionBy("vec_id", "s").orderBy("dist_micro", "cid"))
        .alias("rk"),
    )
    aggs = [
        F.max(F.when(F.col("s") == k, F.col("cid")))
        .cast("bigint")
        .alias(f"code_{k}")
        for k in range(_PQ_SUBS)
    ]
    return (
        best.filter(F.col("rk") == 1)
        .groupBy("vec_id")
        .agg(
            *aggs,
            F.sum("dist_micro").cast("bigint").alias("err_micro"),
        )
    )


# --- scan_csv_multiline -----------------------------------------------------
#
# Quoted-embedded-newline CSV round trip — the nastiest mainstream CSV
# shape (addresses, scraped text). The writer quotes fields holding
# newlines; the reader must run multiLine=true, which makes a CSV file
# NON-SPLITTABLE (the parser can't resync mid-file at an arbitrary
# byte offset, same scale posture as gzip: parallelism = file count).

import os as _os
import tempfile as _tempfile

_CSV_ML_SQL = """
    SELECT doc_id,
           regexp_replace(text, '\\s+', chr(10), 'g') AS text_ml,
           CAST(length(regexp_replace(text, '\\s+', chr(10), 'g'))
                - length(replace(regexp_replace(text, '\\s+', chr(10), 'g'),
                                 chr(10), '')) + 1 AS BIGINT) AS n_lines
    FROM documents WHERE doc_id % 97 = 0 AND length(trim(text)) > 0
    """


@register("scan_csv_multiline", oracle=_CSV_ML_SQL, tags=("scan", "sink"))
def scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents whose text embeds real newlines as quoted CSV,
    read them back with multiLine=true, count the lines.

    The written field IS multi-line (every whitespace run becomes
    \\n), so this exercises quote-aware record framing end to end.
    Scale story in the banner comment: multiLine disables splitting —
    the posture is many medium files (one per partition here), and
    the docstring is the contract that stops someone from pointing
    this reader at one 100 GB file."""
    from pyspark.sql import types as T

    sl = (
        table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 97 == 0) & (F.length(F.trim("text")) > 0))
        .select(
            "doc_id",
            F.regexp_replace("text", "\\s+", "\n").alias("text_ml"),
        )
    )
    out = _os.path.join(_tempfile.mkdtemp(prefix="scan_csv_ml_"), "docs.csv")
    sl.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).csv(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text_ml", T.StringType()),
        ]
    )
    rd = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(out)
    )
    nl = F.length("text_ml") - F.length(F.regexp_replace("text_ml", "\n", ""))
    return rd.select(
        "doc_id", "text_ml", (nl + 1).cast("bigint").alias("n_lines")
    )


# --- graph_modularity -------------------------------------------------------
#
# Newman modularity of the near-dup clustering: per connected
# component c, Q_c = m_c/m − (D_c/2m)² — the community-quality score
# that tells a dedup pipeline whether its clusters are tight bands or
# accidental hairballs. Components come from the SAME min-label
# propagation dedup_cluster runs (memoized); with components as the
# partition every edge is intra-community, so Q = Σ_c Q_c is the
# ceiling any finer community split is judged against. All-integer:
# both terms are bigint floor-divisions mirrored textually.


def _modularity_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_CLUSTER

    # _SQL_CLUSTER ends with the (doc_id, component) projection over all
    # documents; rebuild the tail to aggregate per component instead.
    head = _SQL_CLUSTER[: _SQL_CLUSTER.index("SELECT d2.doc_id")]
    return (
        head
        + """
  , deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY 1),
  nodecomp AS (SELECT c.a AS v, c.component FROM comp c),
  m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM pairs),
  percomp AS (
    SELECT nc.component,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(deg.d) AS BIGINT) AS deg_sum
    FROM nodecomp nc JOIN deg ON nc.v = deg.v GROUP BY 1),
  inedge AS (
    SELECT nc.component, CAST(count(*) AS BIGINT) AS m_in
    FROM pairs p JOIN nodecomp nc ON p.i = nc.v GROUP BY 1)
  SELECT pc.component, pc.n_nodes, ie.m_in, pc.deg_sum,
         CAST(ie.m_in * 1000000 // m.m_edges
              - pc.deg_sum * pc.deg_sum * 1000000
                // (4 * m.m_edges * m.m_edges) AS BIGINT) AS q_ppm
  FROM percomp pc JOIN inedge ie ON pc.component = ie.component
  CROSS JOIN m
"""
    )


@register("graph_modularity", oracle=_modularity_oracle(), tags=("graph", "dedup"))
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component Newman modularity contribution (ppm, integer).

    Shapes: reuses dedup_cluster's memoized component labels (min-
    label propagation — no recompute) and the memoized pair frame;
    degree and per-component rollups are node-count-sized aggregates;
    m is a 1-row broadcast. Both Q terms are integer floor-divisions
    (m_c·10⁶ DIV m and D_c²·10⁶ DIV 4m²), mirrored textually — no
    float anywhere."""
    from etl_cnpjs_spark.plans.dedup import _exact_pairs, dedup_cluster

    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    labels = dedup_cluster(spark, sf_dir)  # (doc_id, component)
    edges = pairs.select(F.col("i").alias("v")).unionAll(
        pairs.select(F.col("j").alias("v"))
    )
    deg = edges.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    nodecomp = labels.select(F.col("doc_id").alias("v"), "component").join(
        deg, "v"
    )
    m = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("m_edges"))
    percomp = nodecomp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("d").cast("bigint").alias("deg_sum"),
    )
    inedge = (
        pairs.join(
            nodecomp.select(F.col("v").alias("i"), "component"), "i"
        )
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_in"))
    )
    return (
        percomp.join(inedge, "component")
        .crossJoin(F.broadcast(m))
        .select(
            "component",
            "n_nodes",
            "m_in",
            "deg_sum",
            F.expr(
                "m_in * 1000000 DIV m_edges"
                " - deg_sum * deg_sum * 1000000 DIV (4 * m_edges * m_edges)"
            )
            .cast("bigint")
            .alias("q_ppm"),
        )
    )


# --- text_bpe_pairs ---------------------------------------------------------
#
# BPE merge step 0: the corpus-wide adjacent-character pair counts a
# byte-pair-encoding tokenizer trainer computes before its FIRST
# merge (each further merge re-counts over the merged symbol stream).
# Top-20 pairs by (count desc, pair) — the training-side counterpart
# of text_tokens/text_hashing_tf's inference-side surface.

_BPE_TOPK = 20


_BPE_SQL = """
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents WHERE length(trim(text)) > 0),
    pr AS (
      SELECT substr(w, CAST(i.g AS INT), 2) AS pair
      FROM tok, (SELECT unnest(generate_series(1, 4000)) AS g) i
      WHERE i.g <= length(w) - 1),
    c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY 1)
    SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT 20
    """


@register("text_bpe_pairs", oracle=_BPE_SQL, tags=("text", "ml", "north_star"))
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs over all token occurrences —
    the first BPE merge-candidate table (integer counts).

    Shapes: token explode → per-token position explode (bounded by
    token length), then ONE map-side-combined pair count — the
    alphabet² key domain means partials collapse almost entirely
    before the wire; top-k is TakeOrderedAndProject. A full BPE
    trainer iterates merge → re-count; each iteration is exactly this
    plan over the merged stream (documented seam, not looped here)."""
    from etl_cnpjs_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = d.select(F.explode(tokens(F.col("text"))).alias("w")).filter(
        # 1-char tokens have no pair; also guards Spark's sequence(1, 0),
        # which DESCENDS ([1, 0]) instead of being empty
        F.length("w") >= 2
    )
    pr = tok.select(
        F.expr("explode(sequence(1, length(w) - 1))").alias("g"),
        "w",
    ).select(F.expr("substr(w, g, 2)").alias("pair"))
    c = pr.groupBy("pair").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return c.orderBy(F.desc("n"), "pair").limit(_BPE_TOPK)


# --- sink_partition_overwrite -----------------------------------------------
#
# Dynamic partition overwrite — the incremental-reload contract every
# partitioned warehouse leans on: rewriting ONE partition's data must
# replace exactly that partition and leave every other partition's
# files untouched. Spark's static overwrite mode would TRUNCATE the
# whole table first (the classic data-loss footgun); this key pins
# partitionOverwriteMode=dynamic end to end: full write → targeted
# single-partition rewrite (prices doubled) → read-back.


_SPO_SQL = """
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 2
                         ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS total_cents
    FROM orders GROUP BY 1
    """


@register("sink_partition_overwrite", oracle=_SPO_SQL, tags=("sink", "layout"))
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by status, dynamically overwrite ONLY
    the 'F' partition with doubled prices, read back the final state.

    The oracle is the expected MERGED table (F doubled, others
    untouched) — if dynamic overwrite leaked into sibling partitions
    (static-mode truncate) the counts would collapse and the hash
    would catch it. Scale story: partition-grain replace is the unit
    of idempotent backfill at 100 TB — rewrite one day, never the
    table; pairs with sink_idempotent (task-level) and sink_manifest
    (commit-level)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        "o_orderstatus",
    )
    out = _os.path.join(_tempfile.mkdtemp(prefix="spo_"), "orders_part")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    patched = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "cents", F.col("cents") * 2
    )
    (
        patched.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    rd = spark.read.parquet(out)
    return rd.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# --- events_locf ------------------------------------------------------------
#
# Last-observation-carried-forward gap fill — the sensor/telemetry
# imputation next to events_interpolate_linear (which needs BOTH
# endpoints; LOCF is causal, the only choice in online features).
# A deterministic mask (event_id % 5 = 0) simulates the missing
# readings; values ride as micro-integers so the fill is exact.


_LOCF_SQL = """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE CAST(floor(value * 1000000 + 0.5) AS BIGINT)
             END AS x_micro
      FROM events)
    SELECT user_id, event_id, s, x_micro,
           last_value(x_micro IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_micro,
           CAST(CASE WHEN x_micro IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS was_missing
    FROM e
    """


@register("events_locf", oracle=_LOCF_SQL, tags=("events", "timeseries"))
def events_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF) of masked readings per user (micro
    integers; leading gaps stay NULL).

    Shapes: ONE user-keyed exchange + sort; the fill is last(...,
    ignorenulls) over a running frame — O(1) state per row, the
    streaming-friendly imputation (its Structured Streaming twin is a
    value-state applyInPandasWithState, documented seam)."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
            F.floor(F.col("value") * 1000000 + 0.5).cast("bigint")
        ).alias("x_micro"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "s",
        "x_micro",
        F.last("x_micro", ignorenulls=True).over(w).alias("filled_micro"),
        F.when(F.col("x_micro").isNull(), 1).otherwise(0).cast("bigint").alias(
            "was_missing"
        ),
    )


# --- agg_boolean_suite ------------------------------------------------------
#
# The boolean-aggregate function surface: count_if / bool_and /
# bool_or (SQL:2023 ANY/EVERY) — the predicates-as-aggregates family
# the fn_* scalar keys don't touch. Bools cast to bigint at the
# boundary per house rule.


_BOOLAGG_SQL = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(value > 50) AS BIGINT) AS n_over_50,
           CAST(CASE WHEN bool_and(value >= 0) THEN 1 ELSE 0 END AS BIGINT)
             AS all_non_negative,
           CAST(CASE WHEN bool_or(value > 99) THEN 1 ELSE 0 END AS BIGINT)
             AS any_over_99,
           CAST(CASE WHEN bool_and(user_id IS NOT NULL) THEN 1 ELSE 0 END
                AS BIGINT) AS all_users_present
    FROM events GROUP BY 1
    """


@register("agg_boolean_suite", oracle=_BOOLAGG_SQL, tags=("agg", "functions"))
def agg_boolean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_and / bool_or per event_type (integer-cast).

    One map-side-combined aggregate; every function partial-combines
    (AND/OR/IF-count are associative), so the exchange carries one
    row per (task, type)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("count_if(value > 50)").cast("bigint").alias("n_over_50"),
        F.expr("CASE WHEN bool_and(value >= 0) THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("all_non_negative"),
        F.expr("CASE WHEN bool_or(value > 99) THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("any_over_99"),
        F.expr("CASE WHEN bool_and(user_id IS NOT NULL) THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("all_users_present"),
    )


# --- events_transition_entropy ----------------------------------------------
#
# Behavioral predictability: for each FROM event type, the Shannon
# entropy of its next-event distribution (micro-nats) — low entropy =
# scripted/funnel behavior, high = exploratory. The summary metric on
# top of events_markov_transitions' raw matrix, using the
# text_char_entropy ln() quantization discipline.


_TRANS_ENT_SQL = """
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                            event_id) AS prev_type
      FROM events),
    t AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    tot AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_to_types
      FROM t GROUP BY 1),
    terms AS (
      SELECT t.from_type, tt.total, tt.n_to_types,
             t.n * CAST(floor(ln(CAST(t.n AS DOUBLE) / CAST(tt.total AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT) AS term_micro
      FROM t JOIN tot tt ON t.from_type = tt.from_type)
    SELECT from_type, CAST(max(total) AS BIGINT) AS n_transitions,
           CAST(max(n_to_types) AS BIGINT) AS n_to_types,
           CAST(-sum(term_micro) // max(total) AS BIGINT)
             AS entropy_micro_nats
    FROM terms GROUP BY from_type
    """


@register(
    "events_transition_entropy", oracle=_TRANS_ENT_SQL, tags=("events", "ml")
)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy per from-state (micro-nats,
    integer).

    Shapes: the lag window shares events_markov_transitions' user
    exchange; the transition matrix is |types|²-bounded, so everything
    after the first aggregate is constant-sized; ln(p) floor-quantizes
    per matrix CELL (the proven cross-engine discipline)."""
    ev = table(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy(
        F.unix_timestamp("ts").cast("bigint"), "event_id"
    )
    o = ev.select(
        "event_type", F.lag("event_type").over(wl).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = o.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = t.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_to_types"),
    )
    terms = t.join(tot, "from_type").select(
        "from_type",
        "total",
        "n_to_types",
        (
            F.col("n")
            * F.floor(
                F.log(F.col("n").cast("double") / F.col("total").cast("double"))
                * 1000000
                + 0.5
            ).cast("bigint")
        ).alias("term_micro"),
    )
    return terms.groupBy("from_type").agg(
        F.max("total").cast("bigint").alias("n_transitions"),
        F.max("n_to_types").cast("bigint").alias("n_to_types"),
        F.expr("-sum(term_micro) DIV max(total)").cast("bigint").alias(
            "entropy_micro_nats"
        ),
    )


# --- join_division ----------------------------------------------------------
#
# Relational division (Codd's ÷): users who performed EVERY event
# type — the "for all" join no SQL keyword spells. Implemented the
# scale-correct way: distinct incidence + one count-compare against
# the broadcast universe size (never |types| stacked semi-joins, and
# never NOT EXISTS(NOT EXISTS) double negation, which planners
# decorrelate poorly).


_DIVISION_SQL = """
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
          FROM events),
    c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_done FROM u GROUP BY 1)
    SELECT c.user_id, c.n_done
    FROM c, k WHERE c.n_done = k.n_types
    """


@register("join_division", oracle=_DIVISION_SQL, tags=("join", "relational"))
def join_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who did ALL event types (relational division; integer).

    Shapes: one (user, type) dedup exchange (map-side combined), one
    user-grain count, and a 1-row broadcast for the divisor universe —
    O(|incidence|) total, independent of |types|. The textbook
    alternative (chained semi-joins per type) is |types| shuffles and
    can't survive a dynamic universe."""
    ev = table(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct()
    k = ev.agg(F.countDistinct("event_type").cast("bigint").alias("n_types"))
    c = u.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_done")
    )
    return (
        c.crossJoin(F.broadcast(k))
        .filter(F.col("n_done") == F.col("n_types"))
        .select("user_id", "n_done")
    )


# --- join_partition_pruned --------------------------------------------------
#
# Dynamic partition pruning (DPP) — the Spark 3+ optimization that
# makes star joins on partitioned facts read ONLY the partitions the
# dimension filter selects, discovered at RUNTIME from the broadcast
# side. This key materializes a status-partitioned fact, joins it to
# a 2-row filtered dim, and returns per-status rollups; the paired
# plan test asserts `dynamicpruning` actually reached the fact scan
# (the difference between scanning 2/3 and 3/3 of a 100 TB table).


_DPP_SQL = """
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    GROUP BY 1
    """


@session_memo
def _dpp_fact(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the status-partitioned fact once per (session, sf)."""
    path = _os.path.join(session_tmpdir("dpp_"), "orders_part")
    (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .alias("cents"),
            "o_orderstatus",
        )
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return path


@register("join_partition_pruned", oracle=_DPP_SQL, tags=("join", "layout"))
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join where the dim filter prunes fact PARTITIONS at
    runtime (DPP), rolled up per status.

    Shapes: the dim (2 rows) broadcasts; Spark reuses the broadcast
    as a dynamicpruning subquery INSIDE the fact scan's
    PartitionFilters, so unselected partitions are never listed, let
    alone read. tests/test_plans.py pins the `dynamicpruning`
    expression in the scan — the assertion that actually matters at
    100 TB."""
    fact = spark.read.parquet(_dpp_fact(spark, sf_dir))
    dim = (
        table(spark, sf_dir, "orders")
        .select("o_orderstatus")
        .distinct()
        .filter(F.col("o_orderstatus").isin("F", "O"))
    )
    j = fact.join(F.broadcast(dim), "o_orderstatus")
    return j.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# --- mm_image_tiles ---------------------------------------------------------
#
# ViT patch plumbing: decode each synthetic BMP and reduce a 2×2 tile
# grid to per-tile channel sums — image → grid-of-patches → per-patch
# features, the preprocessing layout under every patch-based vision
# model. Tile membership is integer math (tx = 2x DIV w), so the
# oracle re-derives every tile analytically from the closed-form
# pixel pattern (same posture as mm_image_channel_stats; cites the
# real stdlib codec in operators/multimodal.py).


_TILES_SQL = """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 9 AS INT) AS width,
             CAST(8 + doc_id % 7 AS INT) AS height
      FROM documents
    ),
    grid AS (
      SELECT d.doc_id,
             CAST((gx.x * 2) // d.width AS INT)  AS tx,
             CAST((gy.y * 2) // d.height AS INT) AS ty,
             (gx.x + 3 * gy.y + d.doc_id) % 256  AS b,
             (2 * gx.x + gy.y + d.doc_id) % 256  AS g,
             (gx.x + gy.y + 3 * d.doc_id) % 256  AS r
      FROM dims d
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) gx
      CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS y) gy
      WHERE gx.x < d.width AND gy.y < d.height
    )
    SELECT doc_id, tx, ty,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(r) AS BIGINT) AS sum_r
    FROM grid GROUP BY 1, 2, 3
    """


@register(
    "mm_image_tiles",
    oracle=_TILES_SQL,
    tags=("multimodal", "udf", "image", "north_star"),
)
def mm_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile (2×2 grid) channel sums from decoded BMP pixels.

    Scale shape: Arrow-batched mapInPandas; bytes never leave the
    task — 4 rows × 7 ints per image cross to the JVM. A production
    ViT pipeline swaps the stats reduction for a flattened patch
    tensor with the SAME partitioning and batch shape (documented
    seam — the tensor columns would be fixed-length arrays). Oracle
    and plan share the generator spec (r6 ADVICE item 5) — see
    mm_image_phash's blind-spot note for the independent fixture
    anchor."""
    from etl_cnpjs_spark.operators.multimodal import (
        bmp_tile_stats_map_in_pandas,
    )

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (8 + F.col("doc_id") % 9).cast("int").alias("width"),
        (8 + F.col("doc_id") % 7).cast("int").alias("height"),
    )
    return bmp_tile_stats_map_in_pandas(d)


# --- window_rolling_slope ---------------------------------------------------
#
# Trailing-window OLS slope per series — the momentum feature (is the
# metric trending up RIGHT NOW) that complements window_ewma's level
# smoothing and agg_linreg's global fit. x = row index within the
# series (consecutive ints), y = micro-quantized value; every frame
# moment (n, Σx, Σy, Σxy, Σx²) is an EXACT bigint window sum, and the
# slope is one integer floor-division: slope_micro = (nΣxy − ΣxΣy)·10⁶
# DIV (nΣx² − (Σx)²) — zero float anywhere.

_SLOPE_WIN = 20


_SLOPE_SQL = f"""
    WITH o AS (
      SELECT event_type, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                         event_id) AS x
      FROM events),
    m AS (
      SELECT event_type, event_id, x, y,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx,
             sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy,
             sum(x * x) OVER w AS sxx
      FROM o
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   ROWS BETWEEN {_SLOPE_WIN - 1} PRECEDING AND CURRENT ROW))
    SELECT event_type, event_id, CAST(x AS BIGINT) AS x, y,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_micro
    FROM m WHERE n >= 2
    """


@register("window_rolling_slope", oracle=_SLOPE_SQL, tags=("window", "timeseries"))
def window_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20 OLS slope per event_type (micro units/row,
    integer).

    Shapes: ONE event_type exchange and ONE sort serve the row-number
    pass and all five moment windows (same partitioning AND ordering);
    each moment is O(1) sliding-frame state. x is the in-series row
    index, so Σx² stays ≤ n³ — no epoch² overflow (the reason x is
    NOT raw epoch seconds; documented constraint)."""
    ev = table(spark, sf_dir, "events")
    wo = W.partitionBy("event_type").orderBy(
        F.unix_timestamp("ts").cast("bigint"), "event_id"
    )
    o = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("y"),
        F.row_number().over(wo).alias("x"),
    )
    wf = (
        W.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(-(_SLOPE_WIN - 1), 0)
    )
    m = o.select(
        "event_type",
        "event_id",
        "x",
        "y",
        F.count(F.lit(1)).over(wf).alias("n"),
        F.sum("x").over(wf).alias("sx"),
        F.sum("y").over(wf).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(wf).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(wf).alias("sxx"),
    )
    return m.filter(F.col("n") >= 2).select(
        "event_type",
        "event_id",
        F.col("x").cast("bigint").alias("x"),
        "y",
        F.expr("(n * sxy - sx * sy) * 1000000 DIV (n * sxx - sx * sx)")
        .cast("bigint")
        .alias("slope_micro"),
    )


# --- udf_arrow_scalar -------------------------------------------------------
#
# The Arrow-optimized scalar Python UDF surface (Spark 3.5+/4
# useArrow=True): same row-wise author experience as udf_cnpj_format's
# classic pickled UDF, but batches cross the JVM↔Python boundary as
# Arrow columns (the 10-100× serialization win SURVEY §7.2 commits
# to). The function itself — digit sum + mod-97 check code — is
# SQL-mirrorable, so the oracle stays full.


_ARROW_UDF_SQL = """
    WITH d AS (
      SELECT o_orderkey,
             (SELECT sum(CAST(substr(CAST(o.o_orderkey AS VARCHAR), g.g, 1)
                              AS BIGINT))
              FROM (SELECT unnest(generate_series(1, 20)) AS g) g
              WHERE g.g <= length(CAST(o.o_orderkey AS VARCHAR))) AS digit_sum
      FROM orders o)
    SELECT o_orderkey,
           CAST(digit_sum AS BIGINT) AS digit_sum,
           'ORD-' || CAST(o_orderkey AS VARCHAR) || '-'
                  || CAST(digit_sum % 97 AS VARCHAR) AS check_code
    FROM d
    """


@register("udf_arrow_scalar", oracle=_ARROW_UDF_SQL, tags=("udf", "functions"))
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digit-sum check codes via an Arrow-batched scalar Python UDF.

    Shapes: narrow per-row map — zero shuffles; the boundary cost is
    one Arrow record batch per task instead of per-row pickling
    (ArrowEvalPython node, pinned in tests/test_plans.py). The same
    logic as a built-in expression would be faster still (the fn_*
    keys' posture); this key exists to pin the MIGRATION PATH for
    logic that genuinely needs Python."""
    from pyspark.sql import types as T

    @F.udf(returnType=T.StructType([
        T.StructField("digit_sum", T.LongType()),
        T.StructField("check_code", T.StringType()),
    ]), useArrow=True)
    def check_code(k: int):
        s = sum(int(c) for c in str(k))
        return (s, f"ORD-{k}-{s % 97}")

    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", check_code(F.col("o_orderkey")).alias("cc")
    ).select(
        "o_orderkey",
        F.col("cc.digit_sum").cast("bigint").alias("digit_sum"),
        F.col("cc.check_code").alias("check_code"),
    )


# --- events_lateness_profile ------------------------------------------------
#
# Watermark-tuning artifact: per source (event_type — one ordered-ish
# log each, the Kafka-partition analogy), how late do events arrive
# relative to the furthest event time already seen on that source?
# lateness = running max(event time) over ARRIVAL order (event_id) −
# event time, bucketed into the thresholds a watermark would be set
# at. THE batch-side report that answers "how much state does a
# 10-minute watermark actually drop" before any stream runs.


_LATENESS_SQL = """
    WITH o AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             max(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hwm
      FROM events),
    l AS (
      SELECT event_type, hwm - s AS late_s FROM o),
    b AS (
      SELECT event_type,
             CASE WHEN late_s = 0 THEN 'on_time'
                  WHEN late_s <= 60 THEN 'le_1m'
                  WHEN late_s <= 600 THEN 'le_10m'
                  WHEN late_s <= 3600 THEN 'le_1h'
                  ELSE 'gt_1h' END AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM l GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM b GROUP BY 1)
    SELECT b.event_type, b.bucket, b.n,
           CAST(b.n * 1000000 // t.total AS BIGINT) AS share_ppm
    FROM b JOIN t ON b.event_type = t.event_type
    """


@register(
    "events_lateness_profile", oracle=_LATENESS_SQL, tags=("events", "streaming")
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness distribution vs the per-source high-water
    mark (integer buckets + ppm share).

    Shapes: one event_type exchange serves the running-max window
    (arrival order = event_id, the ingestion sequence) and the bucket
    rollup; totals derive from the bucket frame and broadcast back.
    Per-source partitioning is the honest scale unit — a GLOBAL
    arrival sort would be the cross-partition total order no log
    provides anyway (watermarks are per-partition-min in Spark
    too)."""
    ev = table(spark, sf_dir, "events")
    wa = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    s = F.unix_timestamp("ts").cast("bigint")
    o = ev.select("event_type", s.alias("s"), "event_id").select(
        "event_type",
        "s",
        F.max("s").over(wa).alias("hwm"),
    )
    late = o.select("event_type", (F.col("hwm") - F.col("s")).alias("late_s"))
    b = late.select(
        "event_type",
        F.when(F.col("late_s") == 0, "on_time")
        .when(F.col("late_s") <= 60, "le_1m")
        .when(F.col("late_s") <= 600, "le_10m")
        .when(F.col("late_s") <= 3600, "le_1h")
        .otherwise("gt_1h")
        .alias("bucket"),
    ).groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = b.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("total"))
    return b.join(F.broadcast(t), "event_type").select(
        "event_type",
        "bucket",
        "n",
        F.expr("n * 1000000 DIV total").cast("bigint").alias("share_ppm"),
    )


# --- sink_csv_br_dialect ----------------------------------------------------
#
# Brazilian-Excel CSV dialect round trip: semicolon separator, decimal
# COMMA money — the dialect the reference's downstream consumers
# actually open (its export writes latin-1 + BOM for the same Excel;
# etl.py:185-188 / SURVEY §2.1 O6/O18 cover encoding, this key covers
# the separator/decimal axis). Money crosses as a formatted string
# (the dialect's own representation), so the round trip is exact by
# construction and the oracle mirrors the formatting textually.


_BR_CSV_SQL = """
    SELECT o_orderkey,
           CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100
                AS VARCHAR) || ','
             || CASE WHEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          % 100 < 10 THEN '0' ELSE '' END
             || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 100
                     AS VARCHAR) AS total_br,
           o_orderstatus
    FROM orders WHERE o_orderkey % 83 = 0
    """


@register("sink_csv_br_dialect", oracle=_BR_CSV_SQL, tags=("sink", "cnpj"))
def sink_csv_br_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a keyed slice as semicolon-separated CSV with
    decimal-comma money, read it back under the same dialect options.

    The money column is formatted cents→'R,CC' string BEFORE the sink
    (integer arithmetic, engine-mirrored), because decimal-comma is a
    PRESENTATION dialect: parsing it back as double would re-open the
    float door the cent discipline closed. sep=';' exercises the
    non-default separator path both directions."""
    from pyspark.sql import types as T

    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    sl = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 83 == 0)
        .select(
            "o_orderkey",
            F.concat(
                (cents / 100).cast("bigint").cast("string"),
                F.lit(","),
                F.when(cents % 100 < 10, "0").otherwise(""),
                (cents % 100).cast("string"),
            ).alias("total_br"),
            "o_orderstatus",
        )
    )
    out = _os.path.join(_tempfile.mkdtemp(prefix="br_csv_"), "slice.csv")
    sl.write.mode("overwrite").option("header", True).option("sep", ";").csv(out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("total_br", T.StringType()),
            T.StructField("o_orderstatus", T.StringType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).option("sep", ";").csv(
        out
    )


# --- events_ab_srm ----------------------------------------------------------
#
# Sample-ratio mismatch — the A/B test's health check that runs BEFORE
# any lift is read: chi-square goodness-of-fit of the observed
# assignment split vs the designed 50/50. A failed SRM invalidates the
# experiment regardless of p-values (the first thing every
# experimentation platform gates on). Cohort = user_id % 2, the same
# deterministic assignment events_ab_lift/ab_ttest use.


_SRM_SQL = """
    WITH a AS (
      SELECT user_id % 2 AS cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS n
      FROM events GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM a),
    c AS (
      SELECT a.cohort, a.n, t.total,
             CAST(floor(
               (CAST(a.n AS DOUBLE) - CAST(t.total AS DOUBLE) / 2)
               * (CAST(a.n AS DOUBLE) - CAST(t.total AS DOUBLE) / 2)
               / (CAST(t.total AS DOUBLE) / 2) * 1000000 + 0.5) AS BIGINT)
               AS cell_micro
      FROM a, t)
    SELECT CAST(max(total) AS BIGINT) AS n_users,
           CAST(max(CASE WHEN cohort = 0 THEN n END) AS BIGINT) AS n_control,
           CAST(max(CASE WHEN cohort = 1 THEN n END) AS BIGINT) AS n_treat,
           CAST(sum(cell_micro) AS BIGINT) AS chi2_micro,
           CAST(CASE WHEN sum(cell_micro) > 3841459 THEN 1 ELSE 0 END AS BIGINT)
             AS srm_flag
    FROM c
    """


@register("events_ab_srm", oracle=_SRM_SQL, tags=("events", "ml", "dq"))
def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch χ² vs the designed 50/50 split (micro
    integers; flag at the 95% critical value 3.841459).

    Shapes: one distinct-user aggregate per cohort (2 groups), a
    2-row frame after that — everything post-scan is constant-sized.
    Each χ² cell micro-quantizes ONE mirrored double expression over
    exact integers (the chi2_independence discipline)."""
    ev = table(spark, sf_dir, "events")
    a = ev.select((F.col("user_id") % 2).alias("cohort"), "user_id").groupBy(
        "cohort"
    ).agg(F.countDistinct("user_id").cast("bigint").alias("n"))
    t = a.agg(F.sum("n").cast("bigint").alias("total"))
    c = a.crossJoin(F.broadcast(t)).select(
        "cohort",
        "n",
        "total",
        F.expr(
            "CAST(floor((CAST(n AS DOUBLE) - CAST(total AS DOUBLE) / 2)"
            " * (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) / 2)"
            " / (CAST(total AS DOUBLE) / 2) * 1000000 + 0.5) AS BIGINT)"
        ).alias("cell_micro"),
    )
    return c.agg(
        F.max("total").cast("bigint").alias("n_users"),
        F.max(F.when(F.col("cohort") == 0, F.col("n")))
        .cast("bigint")
        .alias("n_control"),
        F.max(F.when(F.col("cohort") == 1, F.col("n")))
        .cast("bigint")
        .alias("n_treat"),
        F.sum("cell_micro").cast("bigint").alias("chi2_micro"),
    ).select(
        "n_users",
        "n_control",
        "n_treat",
        "chi2_micro",
        F.when(F.col("chi2_micro") > 3841459, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("srm_flag"),
    )


# --- graph_hits -------------------------------------------------------------
#
# HITS hubs & authorities (Kleinberg) on the directed orders-derived
# graph (same synthetic edge generator as graph_triangle_count, kept
# DIRECTED here): 3 unrolled mutual-reinforcement rounds with
# MAX-normalization instead of L2 — dividing by the round's max score
# keeps every score an integer ppm (score·10⁶ DIV max), so the whole
# algorithm is bigint arithmetic and the oracle mirrors it textually
# (the k-core unroll discipline: "HITS after R rounds" is the
# registered semantics; convergence to fixpoint is the production
# run's stopping rule, not the oracle's).

_HITS_N = 500
_HITS_ROUNDS = 3


def _hits_sql() -> str:
    sql = f"""
    WITH raw AS (
      SELECT o_orderkey % {_HITS_N} AS a,
             ((o_orderkey // {_HITS_N}) * 13 + (o_orderkey % {_HITS_N}) * 7 + 1)
               % {_HITS_N} AS b
      FROM orders),
    e AS (SELECT DISTINCT a AS u, b AS v FROM raw WHERE a <> b),
    nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
    h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
    a0 AS (SELECT node, CAST(1000000 AS BIGINT) AS a FROM nodes)
    """
    prev_h, prev_a = "h0", "a0"
    for r in range(1, _HITS_ROUNDS + 1):
        sql += f"""
    , ar{r} AS (
      SELECT e.v AS node, CAST(sum(ph.h) AS BIGINT) AS s
      FROM e JOIN {prev_h} ph ON e.u = ph.node GROUP BY 1),
    arm{r} AS (SELECT max(s) AS mx FROM ar{r}),
    a{r} AS (
      SELECT n.node,
             CAST(coalesce(ar.s, 0) * 1000000 // m.mx AS BIGINT) AS a
      FROM nodes n LEFT JOIN ar{r} ar ON n.node = ar.node
      CROSS JOIN arm{r} m),
    hr{r} AS (
      SELECT e.u AS node, CAST(sum(pa.a) AS BIGINT) AS s
      FROM e JOIN a{r} pa ON e.v = pa.node GROUP BY 1),
    hrm{r} AS (SELECT max(s) AS mx FROM hr{r}),
    h{r} AS (
      SELECT n.node,
             CAST(coalesce(hr.s, 0) * 1000000 // m.mx AS BIGINT) AS h
      FROM nodes n LEFT JOIN hr{r} hr ON n.node = hr.node
      CROSS JOIN hrm{r} m)
    """
        prev_h, prev_a = f"h{r}", f"a{r}"
    sql += f"""
    SELECT n.node, h.h AS hub_ppm, a.a AS auth_ppm
    FROM nodes n
    JOIN {prev_h} h ON n.node = h.node
    JOIN {prev_a} a ON n.node = a.node
    WHERE h.h > 0 OR a.a > 0
    """
    return sql


@register("graph_hits", oracle=_hits_sql(), tags=("graph",))
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub/authority scores after 3 HITS rounds (ppm integers).

    Shapes per round: two edge-keyed aggregates (auth = Σ hub over
    in-edges, hub = Σ auth over out-edges), each map-side combined,
    with the node-sized score frame BROADCAST onto the edge join; the
    round max is a 1-row broadcast. localCheckpoint between rounds
    keeps lineage flat (the k-core discipline). All-integer
    max-normalization is the determinism trick: L2 would put a sqrt
    inside the iteration; max keeps ppm bigints end to end."""
    o = table(spark, sf_dir, "orders")
    raw = o.select(
        (F.col("o_orderkey") % _HITS_N).alias("a"),
        (
            ((F.col("o_orderkey") / _HITS_N).cast("bigint") * 13
             + (F.col("o_orderkey") % _HITS_N) * 7 + 1) % _HITS_N
        ).alias("b"),
    )
    e = raw.filter(F.col("a") != F.col("b")).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).distinct().localCheckpoint()
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    h = nodes.select("node", F.lit(1000000).cast("bigint").alias("h"))
    a = nodes.select("node", F.lit(1000000).cast("bigint").alias("a"))
    for _ in range(_HITS_ROUNDS):
        ar = (
            e.join(F.broadcast(h.select(F.col("node").alias("u"), "h")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("h").cast("bigint").alias("s"))
        )
        mx_a = ar.agg(F.max("s").alias("mx"))
        a = (
            nodes.join(ar, "node", "left")
            .crossJoin(F.broadcast(mx_a))
            .select(
                "node",
                F.expr("coalesce(s, 0) * 1000000 DIV mx").cast("bigint").alias("a"),
            )
            .localCheckpoint()
        )
        hr = (
            e.join(F.broadcast(a.select(F.col("node").alias("v"), "a")), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("a").cast("bigint").alias("s"))
        )
        mx_h = hr.agg(F.max("s").alias("mx"))
        h = (
            nodes.join(hr, "node", "left")
            .crossJoin(F.broadcast(mx_h))
            .select(
                "node",
                F.expr("coalesce(s, 0) * 1000000 DIV mx").cast("bigint").alias("h"),
            )
            .localCheckpoint()
        )
    return (
        nodes.join(h, "node")
        .join(a, "node")
        .filter((F.col("h") > 0) | (F.col("a") > 0))
        .select("node", F.col("h").alias("hub_ppm"), F.col("a").alias("auth_ppm"))
    )


# --- corpus_dup_matrix ------------------------------------------------------
#
# Cross-source duplication matrix: for every (source_a ≤ source_b)
# pair, how many near-dup pairs connect them — the "which feeds copy
# from which" report a corpus curator reads before setting per-source
# dedup priorities (intra-source dups suggest crawler re-visits;
# cross-source dups suggest syndication). Reuses the memoized exact
# pair frame + a 2-column dimension join.


def _dup_matrix_oracle() -> str:
    from etl_cnpjs_spark.plans.dedup import _SQL_PAIRS

    return (
        _SQL_PAIRS
        + """
      , lab AS (
        SELECT p.i, p.j, di.source AS si, dj.source AS sj
        FROM pairs p
        JOIN documents di ON p.i = di.doc_id
        JOIN documents dj ON p.j = dj.doc_id)
      SELECT least(si, sj) AS source_a, greatest(si, sj) AS source_b,
             CAST(count(*) AS BIGINT) AS n_dup_pairs,
             CAST(sum(CASE WHEN si = sj THEN 1 ELSE 0 END) AS BIGINT)
               AS n_intra
      FROM lab GROUP BY 1, 2
    """
    )


@register("corpus_dup_matrix", oracle=_dup_matrix_oracle(), tags=("corpus", "dedup"))
def corpus_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts per unordered source pair (integer).

    Shapes: the doc→source dimension is corpus-metadata sized and
    BROADCAST twice onto the pair frame (one per endpoint); the rollup
    lands on a |sources|² grid. The pair frame is the memoized one
    every graph/dedup key shares — zero recompute."""
    from etl_cnpjs_spark.plans.dedup import _exact_pairs

    pairs = _exact_pairs(spark, sf_dir).select("i", "j")
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    di = d.select(F.col("doc_id").alias("i"), F.col("source").alias("si"))
    dj = d.select(F.col("doc_id").alias("j"), F.col("source").alias("sj"))
    lab = pairs.join(F.broadcast(di), "i").join(F.broadcast(dj), "j")
    return lab.groupBy(
        F.least("si", "sj").alias("source_a"),
        F.greatest("si", "sj").alias("source_b"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"),
        F.sum(F.when(F.col("si") == F.col("sj"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_intra"),
    )


# --- agg_rate_smoothing -----------------------------------------------------
#
# Empirical-Bayes rate smoothing — the ranking-pipeline fix for small
# denominators (a 1/1 "100% converter" must not outrank 95/100):
# shrink each user's conversion rate toward the GLOBAL rate with a
# fixed-strength Beta prior, smoothed = (k + C·p̄)/(n + C), C = 20.
# The global prior is exact integers broadcast once; the per-user
# formula is one mirrored double expression, ppm-quantized.

_SMOOTH_C = 20
_SMOOTH_THRESH = 50.0


_SMOOTH_SQL = f"""
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > {_SMOOTH_THRESH} THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(k) AS BIGINT) AS gk
          FROM u)
    SELECT u.user_id, u.n, u.k,
           CAST(u.k * 1000000 // u.n AS BIGINT) AS raw_ppm,
           CAST(floor(
             (CAST(u.k AS DOUBLE)
              + {_SMOOTH_C} * (CAST(g.gk AS DOUBLE) / CAST(g.gn AS DOUBLE)))
             / (CAST(u.n AS DOUBLE) + {_SMOOTH_C}) * 1000000 + 0.5) AS BIGINT)
             AS smoothed_ppm
    FROM u, g
    """


@register("agg_rate_smoothing", oracle=_SMOOTH_SQL, tags=("agg", "ml"))
def agg_rate_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversion rate with Beta(C·p̄, C·(1−p̄)) shrinkage
    (ppm integers).

    Shapes: one user aggregate (exact integer k, n), a 1-row global
    prior broadcast back, one mirrored double formula per user. The
    shrinkage constant is part of the registered semantics; production
    fits it by method of moments over the same (k, n) frame —
    documented seam, same plan shape."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > _SMOOTH_THRESH, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    g = u.agg(
        F.sum("n").cast("bigint").alias("gn"),
        F.sum("k").cast("bigint").alias("gk"),
    )
    return u.crossJoin(F.broadcast(g)).select(
        "user_id",
        "n",
        "k",
        F.expr("k * 1000000 DIV n").cast("bigint").alias("raw_ppm"),
        F.expr(
            f"CAST(floor((CAST(k AS DOUBLE)"
            f" + {_SMOOTH_C} * (CAST(gk AS DOUBLE) / CAST(gn AS DOUBLE)))"
            f" / (CAST(n AS DOUBLE) + {_SMOOTH_C}) * 1000000 + 0.5) AS BIGINT)"
        ).alias("smoothed_ppm"),
    )


# --- fn_stable_id -----------------------------------------------------------
#
# Deterministic dense ID assignment — the replacement for
# monotonically_increasing_id(), which is partition-layout-dependent
# (different cluster, different ids) and therefore banned from any
# reproducible pipeline. Stable ids = row_number over an explicit
# total order; re-runs, re-partitions, and engine swaps all agree.
# The classic use: assigning contiguous vocab/doc ids before an
# array-indexed model stage.


_STABLE_ID_SQL = """
    SELECT CAST(row_number() OVER (ORDER BY source, doc_id) AS BIGINT)
             AS stable_id,
           doc_id, source
    FROM documents
    """


@register("fn_stable_id", oracle=_STABLE_ID_SQL, tags=("functions", "corpus"))
def fn_stable_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous deterministic ids over (source, doc_id) order.

    Shapes: one global sort — honest and documented: DENSE contiguous
    ids fundamentally order the corpus (at 100 TB: two-pass
    partition-offset assignment — per-partition counts, prefix-sum the
    offsets driver-side, then zip within partitions — same result,
    no global sort; the window form here IS the semantics both
    implement). The anti-pattern this key replaces
    (monotonically_increasing_id) is partition-dependent and
    unreproducible by construction."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        F.row_number().over(W.orderBy("source", "doc_id")).cast("bigint").alias(
            "stable_id"
        ),
        "doc_id",
        "source",
    )


# --- text_gazetteer_match ---------------------------------------------------
#
# Dictionary-based concept tagging (gazetteer NER-lite): a fixed
# term→category dictionary matched by exact token equality — the
# cheap entity tagger that runs before any model NER (product names,
# tickers, geo gazetteers). The dictionary is a literal VALUES frame
# in BOTH engines; matching is a broadcast join onto the shared
# (doc, token) explode path.

_GAZETTEER = [
    ("join", "operator"), ("sort", "operator"), ("merge", "operator"),
    ("scan", "operator"), ("filter", "operator"), ("window", "operator"),
    ("agg", "operator"),
    ("stream", "runtime"), ("batch", "runtime"), ("spark", "runtime"),
    ("hash", "structure"), ("table", "structure"), ("column", "structure"),
    ("row", "structure"), ("key", "structure"),
]


def _gaz_sql() -> str:
    vals = ", ".join(f"('{t}', '{c}')" for t, c in _GAZETTEER)
    return f"""
    WITH gaz(term, category) AS (VALUES {vals}),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents WHERE length(trim(text)) > 0)
    SELECT t.doc_id, g.category,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(count(DISTINCT t.w) AS BIGINT) AS n_distinct_terms
    FROM tok t JOIN gaz g ON t.w = g.term
    GROUP BY 1, 2
    """


@register("text_gazetteer_match", oracle=_gaz_sql(), tags=("text", "north_star"))
def text_gazetteer_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, category) gazetteer mention counts (integer).

    Shapes: the dictionary is a literal in-plan frame, BROADCAST onto
    the token explode (the join prunes non-dictionary tokens before
    any aggregation — filter-then-count); one (doc, category) rollup.
    At 100 TB a million-term gazetteer still broadcasts (few MB);
    past that it becomes a bucketed build side — documented seam."""
    from etl_cnpjs_spark.functions.text import tokens

    gaz = spark.createDataFrame(_GAZETTEER, "term string, category string")
    d = table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    m = tok.join(F.broadcast(gaz), tok["w"] == gaz["term"])
    return m.groupBy("doc_id", "category").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mentions"),
        F.countDistinct("w").cast("bigint").alias("n_distinct_terms"),
    )


# --- text_vocab_coverage ----------------------------------------------------
#
# Tokenizer-readiness metric: build the corpus's top-100 token
# vocabulary, then score every document's coverage (tokens in vocab)
# and OOV rate — the report that decides whether a fixed vocab /
# tokenizer is adequate for a corpus slice before training starts.
# Vocab selection is total-ordered ((count DESC, token)) so both
# engines pick the identical 100.

_VOCAB_K = 100


_VOCAB_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents WHERE length(trim(text)) > 0),
    vc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1
      ORDER BY n DESC, w LIMIT {_VOCAB_K}),
    sc AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_in_vocab
      FROM tok t LEFT JOIN vc v ON t.w = v.w
      GROUP BY 1)
    SELECT doc_id, n_tokens, n_in_vocab,
           CAST(n_in_vocab * 1000000 // n_tokens AS BIGINT) AS coverage_ppm,
           CAST((n_tokens - n_in_vocab) * 1000000 // n_tokens AS BIGINT)
             AS oov_ppm
    FROM sc
    """


@register("text_vocab_coverage", oracle=_VOCAB_SQL, tags=("text", "ml"))
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100-vocab coverage and OOV rate per document (ppm).

    Shapes: ONE token exchange builds the vocab (map-side-combined
    counts + TakeOrdered top-100); the 100-row vocab BROADCASTS back
    onto the same token frame as a left join (membership flag, no
    re-shuffle); doc rollup on the doc key. The two-pass
    build-then-score is the honest shape — a single pass can't know
    the top-K."""
    from etl_cnpjs_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    vc = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(_VOCAB_K)
        .select(F.col("w").alias("vw"))
    )
    sc = tok.join(F.broadcast(vc), tok["w"] == vc["vw"], "left").groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("vw").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_in_vocab"),
    )
    return sc.select(
        "doc_id",
        "n_tokens",
        "n_in_vocab",
        F.expr("n_in_vocab * 1000000 DIV n_tokens")
        .cast("bigint")
        .alias("coverage_ppm"),
        F.expr("(n_tokens - n_in_vocab) * 1000000 DIV n_tokens")
        .cast("bigint")
        .alias("oov_ppm"),
    )


# --- sink_versioned_manifest ------------------------------------------------
#
# Versioned manifest commits with TIME TRAVEL — the file-level story
# cdc_snapshot_at tells at row level: commit v1 (slice A), commit v2
# (slice A plus appended slice B; v1's manifest untouched), then read
# BOTH versions through their manifests and roll up per version. A
# reader pinned to v1 must see exactly the v1 table forever — the
# reproducible-training-run property ("train set = manifest vN") that
# makes lakehouse versioning a data-management feature rather than a
# backup feature.


_VMANIFEST_SQL = """
    WITH a AS (
      SELECT * FROM orders WHERE o_orderkey % 89 = 0),
    b AS (
      SELECT * FROM orders WHERE o_orderkey % 89 = 1)
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM a
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           CAST((SELECT count(*) FROM a) + (SELECT count(*) FROM b) AS BIGINT),
           CAST((SELECT sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 FROM a)
                + (SELECT sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   FROM b) AS BIGINT)
    """


@register("sink_versioned_manifest", oracle=_VMANIFEST_SQL, tags=("sink", "cdc"))
def sink_versioned_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two manifest commits (v2 appends files, reuses v1's), time-
    travel reads of both, per-version rollup (integer cents).

    Commit protocol: MANIFEST_v{N}.json written via os.replace (the
    sink_manifest discipline) listing the FULL file set of that
    version — append-only data files, versions share files by
    reference (v2 lists v1's files + the new ones; nothing rewrites).
    Scale story: commit cost = one rename regardless of volume;
    version storage cost = only NEW files; GC = files referenced by
    no retained manifest (documented, not modeled)."""
    import glob
    import json

    base = _tempfile.mkdtemp(prefix="vmanifest_")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", cents.alias("cents")
    )
    d1 = _os.path.join(base, "d1")
    o.filter(F.col("o_orderkey") % 89 == 0).write.parquet(d1)
    v1_files = sorted(glob.glob(_os.path.join(d1, "*.parquet")))
    tmp = _os.path.join(base, "_m.tmp")
    with open(tmp, "w") as f:
        json.dump({"files": v1_files}, f)
    _os.replace(tmp, _os.path.join(base, "MANIFEST_v1.json"))

    d2 = _os.path.join(base, "d2")
    o.filter(F.col("o_orderkey") % 89 == 1).write.parquet(d2)
    v2_files = v1_files + sorted(glob.glob(_os.path.join(d2, "*.parquet")))
    with open(tmp, "w") as f:
        json.dump({"files": v2_files}, f)
    _os.replace(tmp, _os.path.join(base, "MANIFEST_v2.json"))

    outs = []
    for ver in (1, 2):
        with open(_os.path.join(base, f"MANIFEST_v{ver}.json")) as f:
            committed = json.load(f)["files"]
        rd = spark.read.parquet(*committed)
        outs.append(
            rd.agg(
                F.lit(ver).cast("bigint").alias("version"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("total_cents"),
            ).select("version", "n_rows", "total_cents")
        )
    return outs[0].unionAll(outs[1])


# --- corpus_token_budget ----------------------------------------------------
#
# THE question every training run starts with: how many tokens do we
# have, and where — token totals per (source, lang) with corpus share
# and a deterministic rank. Complements corpus_source_mix (docs/chars
# composition) with the unit that actually prices a run.


_TOKEN_BUDGET_SQL = """
    WITH tok AS (
      SELECT source, lang,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM tok GROUP BY 1, 2),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM g)
    SELECT g.source, g.lang, g.n_docs, g.n_tokens,
           CAST(g.n_tokens * 1000000 // t.total AS BIGINT) AS share_ppm,
           CAST(row_number() OVER (ORDER BY g.n_tokens DESC, g.source, g.lang)
                AS BIGINT) AS budget_rank
    FROM g, t
    """


@register("corpus_token_budget", oracle=_TOKEN_BUDGET_SQL, tags=("corpus", "north_star"))
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token totals per (source, lang) with ppm share and rank.

    Shapes: token COUNTING is per-row (size(split), no explode — the
    cheap form when only totals are needed); one map-side-combined
    rollup to the |sources|·|langs| grid; total + rank run on that
    tiny frame. The no-explode trick matters at 100 TB: counting
    tokens must never materialize them."""
    from etl_cnpjs_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = d.select(
        "source", "lang", F.size(tokens(F.col("text"))).cast("bigint").alias("nt")
    )
    g = tok.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    t = g.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000000 DIV total").cast("bigint").alias(
                "share_ppm"
            ),
        )
        .withColumn(
            "budget_rank",
            F.row_number()
            .over(W.orderBy(F.desc("n_tokens"), "source", "lang"))
            .cast("bigint"),
        )
    )


# --- agg_hill_tail_index ----------------------------------------------------
#
# Hill estimator of the heavy-tail exponent of user activity: over
# the top-k order statistics of per-user event counts,
# α̂ = k / Σ ln(x_i / x_(k+1)) — the standard tail-index measurement
# (is the 90/10 skew a power law, and how heavy) that sizes skew
# mitigation (salting thresholds, hot-key caps). ln() terms micro-
# quantize per order statistic (the char-entropy discipline), the sum
# is bigint, and the final α̂ is one integer division.

_HILL_K = 50


_HILL_SQL = f"""
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    r AS (
      SELECT x, row_number() OVER (ORDER BY x DESC, user_id) AS rk
      FROM u),
    ref AS (SELECT x AS xk1 FROM r WHERE rk = {_HILL_K + 1}),
    terms AS (
      SELECT CAST(floor(ln(CAST(r.x AS DOUBLE) / CAST(ref.xk1 AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS t_micro
      FROM r, ref WHERE r.rk <= {_HILL_K})
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           CAST((SELECT xk1 FROM ref) AS BIGINT) AS x_k1,
           CAST(sum(t_micro) AS BIGINT) AS sum_ln_micro,
           CAST(CAST({_HILL_K} AS BIGINT) * 1000000 * 1000000
                // sum(t_micro) AS BIGINT) AS alpha_micro
    FROM terms
    """


@register("agg_hill_tail_index", oracle=_HILL_SQL, tags=("agg", "stats"))
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index α̂ over the top-50 user activity counts (micro
    integer).

    Shapes: one user aggregate, then a top-(k+1) rank over the
    user-grain frame (TakeOrdered-sized: only k+1 rows survive);
    ln(x/x_{{k+1}}) micro-quantizes per ORDER STATISTIC — k+1 libm
    calls total. At 100 TB the user frame outgrowing a sort is the
    same escape hatch events_rfm documents (2-pass threshold cut)."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    r = u.select(
        "x",
        F.row_number().over(W.orderBy(F.desc("x"), "user_id")).alias("rk"),
    ).filter(F.col("rk") <= _HILL_K + 1)
    ref = r.filter(F.col("rk") == _HILL_K + 1).select(
        F.col("x").alias("xk1")
    )
    terms = (
        r.filter(F.col("rk") <= _HILL_K)
        .crossJoin(F.broadcast(ref))
        .select(
            F.floor(
                F.log(F.col("x").cast("double") / F.col("xk1").cast("double"))
                * 1000000
                + 0.5
            )
            .cast("bigint")
            .alias("t_micro"),
            "xk1",
        )
    )
    return terms.agg(
        F.lit(_HILL_K).cast("bigint").alias("k"),
        F.max("xk1").cast("bigint").alias("x_k1"),
        F.sum("t_micro").cast("bigint").alias("sum_ln_micro"),
        F.expr(f"{_HILL_K} * 1000000 * CAST(1000000 AS BIGINT) DIV sum(t_micro)")
        .cast("bigint")
        .alias("alpha_micro"),
    )


# --- fn_discretize_quantiles ------------------------------------------------
#
# Global-quantile discretization (the Bucketizer/QuantileDiscretizer
# ML-prep op, exact form): compute the corpus's exact quartile cuts
# (percentile_disc — an actual data value, engine-identical, no
# interpolated floats), broadcast them, label every event Q1..Q4.
# Boundary rule registered explicitly: value ≤ cut → lower bucket.


_DISC_SQL = """
    WITH c AS (
      SELECT quantile_disc(value, 0.25) AS q1,
             quantile_disc(value, 0.50) AS q2,
             quantile_disc(value, 0.75) AS q3
      FROM events)
    SELECT e.event_id,
           CAST(CASE WHEN e.value <= c.q1 THEN 1
                     WHEN e.value <= c.q2 THEN 2
                     WHEN e.value <= c.q3 THEN 3
                     ELSE 4 END AS BIGINT) AS bucket,
           CAST(floor(e.value * 1000000 + 0.5) AS BIGINT) AS value_micro
    FROM events e, c
    """


@register("fn_discretize_quantiles", oracle=_DISC_SQL, tags=("functions", "ml"))
def fn_discretize_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quartile bucket labels per event (integer).

    Shapes: the cuts are ONE exact percentile aggregate (sort-based,
    but over the value column only) broadcast as a 1-row frame; the
    labeling pass is scan-side CASE — the two-pass build-then-apply
    shape shared with text_vocab_coverage. percentile_disc (not
    _cont/approx) because a SELECTED value is engine-identical by
    definition; approx sketches are the production swap when the sort
    is too dear (agg_approx_quantile's path, error-bounded there)."""
    ev = table(spark, sf_dir, "events")
    c = ev.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias("q1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY value)").alias("q2"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias("q3"),
    )
    return ev.crossJoin(F.broadcast(c)).select(
        "event_id",
        F.when(F.col("value") <= F.col("q1"), 1)
        .when(F.col("value") <= F.col("q2"), 2)
        .when(F.col("value") <= F.col("q3"), 3)
        .otherwise(4)
        .cast("bigint")
        .alias("bucket"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("value_micro"),
    )


# --- events_ab_mannwhitney --------------------------------------------------
#
# Mann–Whitney U (Wilcoxon rank-sum) per event_type: the
# NONPARAMETRIC A/B test that completes the experimentation kit
# (events_ab_ttest assumes means matter; KS tests the whole shape;
# rank-sum tests stochastic dominance and shrugs at outliers). Ranks
# are exact integers: rank() gives each tie group its minimum rank,
# the tie-group size completes the midrank, and everything stays
# integer by carrying 2×midrank. z uses the tie-free variance
# (registered semantics; value doubles make exact ties rare) with one
# mirrored sqrt, micro-quantized.


_MW_SQL = """
    WITH v AS (
      SELECT event_type, user_id % 2 AS cohort, value FROM events),
    r AS (
      SELECT event_type, cohort,
             rank() OVER (PARTITION BY event_type ORDER BY value) AS rk,
             count(*) OVER (PARTITION BY event_type, value) AS tc
      FROM v),
    s AS (
      SELECT event_type,
             CAST(sum(CASE WHEN cohort = 0 THEN 2 * rk + tc - 1 ELSE 0 END)
                  AS BIGINT) AS s2_a,
             CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM r GROUP BY 1)
    SELECT event_type, n_a, n_b,
           CAST(s2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
           CAST(floor(
             (CAST(s2_a - n_a * (n_a + 1) AS DOUBLE) - CAST(n_a * n_b AS DOUBLE))
             / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b * (n_a + n_b + 1) / 12.0))
             * 1000000 + 0.5) AS BIGINT) AS z_micro
    FROM s
    """


@register("events_ab_mannwhitney", oracle=_MW_SQL, tags=("events", "ml", "stats"))
def events_ab_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum U and z per event_type (integer U via the 2×midrank
    carry; z micro-quantized).

    Shapes: ONE event_type exchange serves the rank window, the
    tie-count window (same partitioning, prefix key), and the final
    rollup; the per-type z is one mirrored double expression over
    exact integers. No global sort — the test statistic partitions by
    the experiment unit like every ab_* key."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", (F.col("user_id") % 2).alias("cohort"), "value"
    )
    r = v.select(
        "event_type",
        "cohort",
        F.rank().over(W.partitionBy("event_type").orderBy("value")).alias("rk"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type", "value"))
        .alias("tc"),
    )
    s = r.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("cohort") == 0, 2 * F.col("rk") + F.col("tc") - 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s2_a"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr("s2_a - n_a * (n_a + 1)").cast("bigint").alias("u2_a"),
        F.expr(
            "CAST(floor((CAST(s2_a - n_a * (n_a + 1) AS DOUBLE)"
            " - CAST(n_a * n_b AS DOUBLE))"
            " / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b * (n_a + n_b + 1) / 12.0))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("z_micro"),
    )


# --- agg_spearman -----------------------------------------------------------
#
# Spearman rank correlation between user activity (event count) and
# user spend (Σ value micro) — Pearson on MIDRANKS, the
# outlier-robust association measure agg_corr_matrix's Pearson can't
# give on heavy-tailed usage data. Midranks carry as 2× integers
# (the Mann–Whitney trick), every moment is an exact bigint sum, and
# ρ is ONE mirrored double expression at the end.


_SPEARMAN_SQL = """
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS spend
      FROM events GROUP BY 1),
    r AS (
      SELECT
        2 * rank() OVER (ORDER BY freq) + count(*) OVER (PARTITION BY freq) - 1
          AS rf2,
        2 * rank() OVER (ORDER BY spend) + count(*) OVER (PARTITION BY spend) - 1
          AS rs2
      FROM u),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rf2) AS BIGINT) AS sf, CAST(sum(rs2) AS BIGINT) AS ss,
             CAST(sum(rf2 * rs2) AS BIGINT) AS sfs,
             CAST(sum(rf2 * rf2) AS BIGINT) AS sff,
             CAST(sum(rs2 * rs2) AS BIGINT) AS sss
      FROM r)
    SELECT n,
           CAST(floor(
             (CAST(n AS DOUBLE) * sfs - CAST(sf AS DOUBLE) * ss)
             / (sqrt(CAST(n AS DOUBLE) * sff - CAST(sf AS DOUBLE) * sf)
                * sqrt(CAST(n AS DOUBLE) * sss - CAST(ss AS DOUBLE) * ss))
             * 1000000 + 0.5) AS BIGINT) AS spearman_micro
    FROM m
    """


@register("agg_spearman", oracle=_SPEARMAN_SQL, tags=("agg", "stats", "ml"))
def agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ between user frequency and spend (micro integer).

    Shapes: one user aggregate, two rank windows over the USER-grain
    frame (small — the events_rfm posture, same documented 2-pass
    escape at scale), exact integer moments, one mirrored double
    finish. Midranks (not plain ranks) keep tied users exact — plain
    rank() would bias ρ wherever counts tie, which user frequencies
    always do."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.floor(F.col("value") * 1000000 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("spend"),
    )
    r = u.select(
        (
            2 * F.rank().over(W.orderBy("freq"))
            + F.count(F.lit(1)).over(W.partitionBy("freq"))
            - 1
        ).alias("rf2"),
        (
            2 * F.rank().over(W.orderBy("spend"))
            + F.count(F.lit(1)).over(W.partitionBy("spend"))
            - 1
        ).alias("rs2"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rf2").cast("bigint").alias("sf"),
        F.sum("rs2").cast("bigint").alias("ss"),
        F.sum(F.col("rf2") * F.col("rs2")).cast("bigint").alias("sfs"),
        F.sum(F.col("rf2") * F.col("rf2")).cast("bigint").alias("sff"),
        F.sum(F.col("rs2") * F.col("rs2")).cast("bigint").alias("sss"),
    )
    return m.select(
        "n",
        F.expr(
            "CAST(floor((CAST(n AS DOUBLE) * sfs - CAST(sf AS DOUBLE) * ss)"
            " / (sqrt(CAST(n AS DOUBLE) * sff - CAST(sf AS DOUBLE) * sf)"
            " * sqrt(CAST(n AS DOUBLE) * sss - CAST(ss AS DOUBLE) * ss))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("spearman_micro"),
    )


# --- window_twap ------------------------------------------------------------
#
# Time-weighted average (TWAP): per user, Σ value·Δt / Σ Δt where Δt
# is each reading's holding time until the next event — the correct
# average for irregularly-sampled telemetry (a plain AVG over-weights
# bursts; the finance/metering standard). All-integer: Δt is epoch
# seconds, value rides as micro, the ratio is one bigint DIV.


_TWAP_SQL = """
    WITH o AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS x_micro,
             lead(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id
                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS next_s
      FROM events),
    h AS (
      SELECT user_id, x_micro, next_s - s AS dt
      FROM o WHERE next_s IS NOT NULL AND next_s > s)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_holds,
           CAST(sum(dt) AS BIGINT) AS span_s,
           CAST(sum(x_micro * dt) // sum(dt) AS BIGINT) AS twap_micro
    FROM h GROUP BY 1
    """


@register("window_twap", oracle=_TWAP_SQL, tags=("window", "timeseries"))
def window_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (micro integer).

    Shapes: ONE user exchange serves the lead window and the weighted
    rollup; Σ x_micro·dt stays in int64 through sf100 (2·10⁸ micro ×
    10⁴ s × 10³ holds ≈ 2·10¹⁵). Zero-length holds (same-second
    events) drop out by the dt > 0 guard — registered semantics, and
    the reason the denominator can't be 0."""
    ev = table(spark, sf_dir, "events")
    wl = W.partitionBy("user_id").orderBy("s", "event_id")
    o = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
        F.floor(F.col("value") * 1000000 + 0.5).cast("bigint").alias("x_micro"),
        "event_id",
    ).withColumn("next_s", F.lead("s").over(wl))
    h = o.filter(
        F.col("next_s").isNotNull() & (F.col("next_s") > F.col("s"))
    ).select("user_id", "x_micro", (F.col("next_s") - F.col("s")).alias("dt"))
    return h.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_holds"),
        F.sum("dt").cast("bigint").alias("span_s"),
        F.expr("sum(x_micro * dt) DIV sum(dt)").cast("bigint").alias(
            "twap_micro"
        ),
    )


# --- fn_try_cast ------------------------------------------------------------
#
# Permissive casting surface: try_cast returns NULL instead of
# raising under ANSI mode — the ingestion posture for dirty columns
# (fn_try_arith covers arithmetic overflow; this covers parse
# failure). Malformed inputs are derived deterministically from
# customer names so the oracle re-derives them.


_TRY_CAST_SQL = """
    WITH d AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0
                  THEN CAST(c_custkey AS VARCHAR)
                  ELSE 'Customer#' || CAST(c_custkey AS VARCHAR) END AS raw_num,
             CASE WHEN c_custkey % 2 = 0
                  THEN '2024-0' || CAST(1 + c_custkey % 9 AS VARCHAR) || '-15'
                  ELSE 'not-a-date' END AS raw_date
      FROM customer)
    SELECT c_custkey,
           TRY_CAST(raw_num AS BIGINT) AS num_parsed,
           CAST(TRY_CAST(raw_num AS BIGINT) IS NULL AS BIGINT)
             AS num_failed,
           CAST(CAST(TRY_CAST(raw_date AS DATE) AS VARCHAR) AS VARCHAR)
             AS date_parsed,
           CAST(TRY_CAST(raw_date AS DATE) IS NULL AS BIGINT) AS date_failed
    FROM d
    """


@register("fn_try_cast", oracle=_TRY_CAST_SQL, tags=("functions", "dq"))
def fn_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast over deterministically-dirtied strings: NULL on parse
    failure, never an ANSI exception (dates re-stringified — the
    date-vs-Timestamp driver-boundary rule in NOTES.md).

    Per-row expressions, no shuffle; the failure FLAGS (cast bool →
    bigint) make the parse outcome part of the hashed contract, so an
    engine that silently coerced garbage would fail the oracle."""
    c = table(spark, sf_dir, "customer")
    d = c.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 3 == 0, F.col("c_custkey").cast("string")
        )
        .otherwise(F.concat(F.lit("Customer#"), F.col("c_custkey").cast("string")))
        .alias("raw_num"),
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.concat(
                F.lit("2024-0"),
                (1 + F.col("c_custkey") % 9).cast("string"),
                F.lit("-15"),
            ),
        )
        .otherwise(F.lit("not-a-date"))
        .alias("raw_date"),
    )
    return d.select(
        "c_custkey",
        F.expr("try_cast(raw_num AS BIGINT)").alias("num_parsed"),
        F.expr("CAST(try_cast(raw_num AS BIGINT) IS NULL AS BIGINT)").alias(
            "num_failed"
        ),
        F.expr("CAST(try_cast(raw_date AS DATE) AS STRING)").alias(
            "date_parsed"
        ),
        F.expr("CAST(try_cast(raw_date AS DATE) IS NULL AS BIGINT)").alias(
            "date_failed"
        ),
    )


# --- cdc_compact_log --------------------------------------------------------
#
# CDC log compaction (the Kafka compacted-topic contract): collapse a
# multi-version change feed to ONE latest record per key, KEEPING
# delete tombstones (cdc_apply's applied-state face drops them; a
# compacted LOG must retain them so late joiners still see the
# delete). Reports superseded-row counts — the space the compaction
# reclaimed. Same deterministic feed as cdc_apply.


_COMPACT_SQL = """
    WITH feed AS (
      SELECT o_orderkey AS key, 1 AS version,
             CASE WHEN o_orderkey % 100 = 0 THEN 'D' ELSE 'U' END AS op,
             'v1-' || lower(o_orderstatus) AS new_status
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'U', 'v2-' || lower(o_orderstatus)
      FROM orders WHERE o_orderkey % 20 = 0 AND o_orderkey % 100 <> 0
    ), r AS (
      SELECT key, version, op, new_status,
             row_number() OVER (PARTITION BY key ORDER BY version DESC) AS rn,
             count(*) OVER (PARTITION BY key) AS n_versions
      FROM feed)
    SELECT key, CAST(version AS BIGINT) AS version, op, new_status,
           CAST(n_versions - 1 AS BIGINT) AS n_superseded,
           CAST(CASE WHEN op = 'D' THEN 1 ELSE 0 END AS BIGINT) AS is_tombstone
    FROM r WHERE rn = 1
    """


@register("cdc_compact_log", oracle=_COMPACT_SQL, tags=("cdc",))
def cdc_compact_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compacted CDC log: latest record per key WITH tombstones
    (integer flags and supersede counts).

    Shapes: one feed-keyed exchange serves the rank window, the
    version count, and implicitly the output partitioning — the
    compaction IS dedup_keep_latest plus tombstone retention, which
    is exactly why compacted topics replace base-table bootstraps at
    100 TB: new consumers read |keys| rows, not |changes|."""
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
    feed = f1.unionAll(f2)
    wk = W.partitionBy("key")
    r = feed.select(
        "key",
        "version",
        "op",
        "new_status",
        F.row_number().over(wk.orderBy(F.desc("version"))).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("n_versions"),
    )
    return r.filter(F.col("rn") == 1).select(
        "key",
        F.col("version").cast("bigint").alias("version"),
        "op",
        "new_status",
        (F.col("n_versions") - 1).cast("bigint").alias("n_superseded"),
        F.when(F.col("op") == "D", 1).otherwise(0).cast("bigint").alias(
            "is_tombstone"
        ),
    )


# --- events_burn_rate -------------------------------------------------------
#
# Multi-window error burn rate (the Google SRE alerting pattern):
# per event_type and hour, the trailing-1h error rate over the
# trailing-6h error rate — a burn-rate spike flags "eating the error
# budget NOW" while the long window suppresses flapping. Rates are
# integer ppm from exact counts; the ratio is one bigint DIV with a
# zero-guard.

_BURN_ERR = 95.0  # value > threshold = "error" (same convention as sla key)


_BURNRATE_SQL = f"""
    WITH h AS (
      SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_s,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > {_BURN_ERR} THEN 1 ELSE 0 END)
                  AS BIGINT) AS errs
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT event_type, hour_s, n, errs,
             sum(n) OVER w1 AS n_1h, sum(errs) OVER w1 AS e_1h,
             sum(n) OVER w6 AS n_6h, sum(errs) OVER w6 AS e_6h
      FROM h
      WINDOW w1 AS (PARTITION BY event_type ORDER BY hour_s
                    ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
             w6 AS (PARTITION BY event_type ORDER BY hour_s
                    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
    SELECT event_type, hour_s,
           CAST(e_1h * 1000000 // n_1h AS BIGINT) AS rate_1h_ppm,
           CAST(e_6h * 1000000 // n_6h AS BIGINT) AS rate_6h_ppm,
           CAST(CASE WHEN e_6h = 0 THEN 0
                     ELSE (e_1h * 1000000 // n_1h) * 1000
                          // greatest(e_6h * 1000000 // n_6h, 1) END
                AS BIGINT) AS burn_rate_milli,
           CAST(CASE WHEN e_6h > 0
                          AND (e_1h * 1000000 // n_1h) * 1000
                              // greatest(e_6h * 1000000 // n_6h, 1) > 2000
                     THEN 1 ELSE 0 END AS BIGINT) AS alert
    FROM w
    """


@register("events_burn_rate", oracle=_BURNRATE_SQL, tags=("events", "dq", "streaming"))
def events_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1h/6h error burn rate per (event_type, hour), alert at
    2× (integer milli-ratio).

    Shapes: ONE exchange builds the hourly grid (map-side combined,
    |types|·|hours| rows); both trailing windows run on that tiny
    aggregated frame with the same partitioning and ordering — the
    window-over-preaggregate discipline (never window the raw facts
    when the grain is hourly). Streaming face = two tumbling aggs +
    a stream-stream self-join, noted as the seam."""
    ev = table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        ((F.unix_timestamp("ts").cast("bigint") / 3600).cast("bigint") * 3600)
        .alias("hour_s"),
        F.when(F.col("value") > _BURN_ERR, 1).otherwise(0).alias("is_err"),
    ).groupBy("event_type", "hour_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("is_err").cast("bigint").alias("errs"),
    )
    wo = W.partitionBy("event_type").orderBy("hour_s")
    w1 = wo.rowsBetween(0, 0)
    w6 = wo.rowsBetween(-5, 0)
    w = h.select(
        "event_type",
        "hour_s",
        F.sum("n").over(w1).alias("n_1h"),
        F.sum("errs").over(w1).alias("e_1h"),
        F.sum("n").over(w6).alias("n_6h"),
        F.sum("errs").over(w6).alias("e_6h"),
    )
    r1 = "e_1h * 1000000 DIV n_1h"
    r6 = "e_6h * 1000000 DIV n_6h"
    burn = f"({r1}) * 1000 DIV greatest({r6}, 1)"
    return w.select(
        "event_type",
        "hour_s",
        F.expr(r1).cast("bigint").alias("rate_1h_ppm"),
        F.expr(r6).cast("bigint").alias("rate_6h_ppm"),
        F.expr(f"CASE WHEN e_6h = 0 THEN 0 ELSE {burn} END")
        .cast("bigint")
        .alias("burn_rate_milli"),
        F.expr(
            f"CASE WHEN e_6h > 0 AND {burn} > 2000 THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("alert"),
    )


# --- dq_table_diff ----------------------------------------------------------
#
# Table diff (the data-diff / reconciliation tool): compare two
# snapshots of a table and classify every key as ADDED / REMOVED /
# CHANGED / UNCHANGED with per-class counts — the check that runs
# after every backfill or migration ("did the rewrite change anything
# it shouldn't have"). v2 is derived deterministically from orders:
# %13 keys dropped, %7 keys repriced, a re-keyed %11 slice added.


_TDIFF_SQL = """
    WITH v1 AS (
      SELECT o_orderkey AS key,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    v2 AS (
      SELECT o_orderkey AS key,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) + 1
                  ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END
               AS cents
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      FROM orders WHERE o_orderkey % 11 = 0),
    j AS (
      SELECT coalesce(a.key, b.key) AS key, a.cents AS c1, b.cents AS c2
      FROM v1 a FULL OUTER JOIN v2 b ON a.key = b.key)
    SELECT CASE WHEN c1 IS NULL THEN 'added'
                WHEN c2 IS NULL THEN 'removed'
                WHEN c1 <> c2 THEN 'changed'
                ELSE 'unchanged' END AS class,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(coalesce(sum(c2 - c1), 0) AS BIGINT) AS cents_delta
    FROM j GROUP BY 1
    """


@register("dq_table_diff", oracle=_TDIFF_SQL, tags=("dq", "cdc"))
def dq_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff report: added/removed/changed/unchanged counts
    and the net value delta (integer cents).

    Shapes: ONE full-outer join on the key (both sides shuffle once —
    at 100 TB this is the one unavoidable co-partition; bucketed
    snapshots make it exchange-free, join_bucketed's layout), then a
    4-row classification rollup. Column-level diffs extend the CASE,
    not the join. The value delta doubles as the reconciliation
    total (Σ changed must explain the ledger move)."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    v1 = o.select(F.col("o_orderkey").alias("key"), cents.alias("c1"))
    v2a = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 7 == 0, cents + 1).otherwise(cents).alias(
            "c2"
        ),
    )
    v2b = o.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("key"), cents.alias("c2")
    )
    v2 = v2a.unionAll(v2b)
    j = v1.join(v2, "key", "full_outer")
    cls = (
        F.when(F.col("c1").isNull(), "added")
        .when(F.col("c2").isNull(), "removed")
        .when(F.col("c1") != F.col("c2"), "changed")
        .otherwise("unchanged")
    )
    return j.select(cls.alias("class"), "c1", "c2").groupBy("class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.coalesce(F.sum(F.col("c2") - F.col("c1")), F.lit(0))
        .cast("bigint")
        .alias("cents_delta"),
    )


# --- sample_temporal_split --------------------------------------------------
#
# Leakage-safe temporal train/test split — the ONLY valid split for
# forecasting / sequential models (sample_hash's random split leaks
# the future into training). Cutoff = the exact 80th-percentile event
# time (percentile_disc: a real data value, engine-identical);
# reports per-split sizes, spans, and the leakage invariant
# (max(train ts) ≤ cutoff < min(test ts)) as hashed columns.


_TSPLIT_SQL = """
    WITH c AS (
      SELECT quantile_disc(CAST(floor(epoch(ts)) AS BIGINT), 0.8) AS cut
      FROM events),
    lab AS (
      SELECT CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) <= c.cut
                  THEN 'train' ELSE 'test' END AS split,
             CAST(floor(epoch(ts)) AS BIGINT) AS s, c.cut
      FROM events, c)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(s) AS BIGINT) AS min_s,
           CAST(max(s) AS BIGINT) AS max_s,
           CAST(max(cut) AS BIGINT) AS cutoff_s,
           CAST(CASE WHEN split = 'train' THEN CASE WHEN max(s) <= max(cut)
                                                    THEN 1 ELSE 0 END
                     ELSE CASE WHEN min(s) > max(cut) THEN 1 ELSE 0 END
                END AS BIGINT) AS leakage_free
    FROM lab GROUP BY split
    """


@register("sample_temporal_split", oracle=_TSPLIT_SQL, tags=("sample", "ml"))
def sample_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-cutoff 80/20 split report with the leakage invariant as a
    hashed column (integer).

    Shapes: the cutoff is one exact percentile aggregate broadcast as
    a 1-row frame; labeling is scan-side CASE (the
    fn_discretize_quantiles two-pass shape). The leakage_free flags
    being IN the oracle contract means a broken split can't pass
    silently."""
    ev = table(spark, sf_dir, "events")
    s = F.unix_timestamp("ts").cast("bigint")
    c = ev.agg(
        F.expr(
            "percentile_disc(0.8) WITHIN GROUP "
            "(ORDER BY CAST(unix_timestamp(ts) AS BIGINT))"
        ).alias("cut")
    )
    lab = ev.crossJoin(F.broadcast(c)).select(
        F.when(s <= F.col("cut"), "train").otherwise("test").alias("split"),
        s.alias("s"),
        "cut",
    )
    g = lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("s").cast("bigint").alias("min_s"),
        F.max("s").cast("bigint").alias("max_s"),
        F.max("cut").cast("bigint").alias("cutoff_s"),
    )
    return g.select(
        "split",
        "n_events",
        "min_s",
        "max_s",
        "cutoff_s",
        F.when(
            F.col("split") == "train",
            F.when(F.col("max_s") <= F.col("cutoff_s"), 1).otherwise(0),
        )
        .otherwise(F.when(F.col("min_s") > F.col("cutoff_s"), 1).otherwise(0))
        .cast("bigint")
        .alias("leakage_free"),
    )


# --- agg_cramers_v ----------------------------------------------------------
#
# Cramér's V — the EFFECT SIZE for the event_type × cohort table
# (events_chi2_independence answers "is there dependence"; V answers
# "does it matter": χ²-significant ≠ large on big n, the classic
# big-data stats trap). V = sqrt(χ² / (n·min(r−1, c−1))); χ² cells
# micro-quantize from exact integers (the chi2 discipline), the
# final sqrt is one mirrored double.


_CRAMER_SQL = """
    WITH b AS (
      SELECT event_type, user_id % 2 AS cohort FROM events),
    cell AS (
      SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS o
      FROM b GROUP BY 1, 2),
    m AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT event_type) AS BIGINT) AS r,
             CAST(count(DISTINCT cohort) AS BIGINT) AS c
      FROM cell),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS ro FROM cell GROUP BY 1),
    ct AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS co FROM cell GROUP BY 1),
    terms AS (
      SELECT CAST(floor(
               (CAST(cell.o AS DOUBLE)
                - CAST(rt.ro AS DOUBLE) * ct.co / m.n)
               * (CAST(cell.o AS DOUBLE)
                  - CAST(rt.ro AS DOUBLE) * ct.co / m.n)
               / (CAST(rt.ro AS DOUBLE) * ct.co / m.n) * 1000000 + 0.5)
               AS BIGINT) AS chi_micro,
             m.n, m.r, m.c
      FROM cell JOIN rt ON cell.event_type = rt.event_type
      JOIN ct ON cell.cohort = ct.cohort CROSS JOIN m)
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(sum(chi_micro) AS BIGINT) AS chi2_micro,
           CAST(floor(sqrt(CAST(sum(chi_micro) AS DOUBLE) / 1000000.0
                           / (CAST(max(n) AS DOUBLE)
                              * least(max(r) - 1, max(c) - 1)))
                      * 1000000 + 0.5) AS BIGINT) AS cramers_v_micro
    FROM terms
    """


@register("agg_cramers_v", oracle=_CRAMER_SQL, tags=("agg", "stats"))
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for event_type × cohort (micro integer).

    Shapes: one contingency aggregate (map-side combined, |types|·2
    cells), marginals derived from the cell frame (never a second
    fact scan), broadcast everywhere; per-cell χ² contributions
    micro-quantize before the bigint sum; one mirrored sqrt at the
    end."""
    ev = table(spark, sf_dir, "events")
    cell = ev.select(
        "event_type", (F.col("user_id") % 2).alias("cohort")
    ).groupBy("event_type", "cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    m = cell.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("r"),
        F.countDistinct("cohort").cast("bigint").alias("c"),
    )
    rt = cell.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("ro"))
    ct = cell.groupBy("cohort").agg(F.sum("o").cast("bigint").alias("co"))
    e = "CAST(ro AS DOUBLE) * co / n"
    terms = (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "cohort")
        .crossJoin(F.broadcast(m))
        .select(
            F.expr(
                f"CAST(floor((CAST(o AS DOUBLE) - {e}) * (CAST(o AS DOUBLE) - {e})"
                f" / ({e}) * 1000000 + 0.5) AS BIGINT)"
            ).alias("chi_micro"),
            "n",
            "r",
            "c",
        )
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("chi_micro").cast("bigint").alias("chi2_micro"),
        F.expr(
            "CAST(floor(sqrt(CAST(sum(chi_micro) AS DOUBLE) / 1000000.0"
            " / (CAST(max(n) AS DOUBLE) * least(max(r) - 1, max(c) - 1)))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("cramers_v_micro"),
    )


# --- sink_python_ds ---------------------------------------------------------
#
# Custom PYTHON DataSource WRITER (Spark 4 pyspark.sql.datasource) —
# the write-side twin of source_python_ds: each executor's
# write(iterator) streams its partition to a JSON-lines part file,
# returns a WriterCommitMessage, and the driver's commit() publishes
# a manifest of exactly the acknowledged parts (the two-phase commit
# every custom sink needs; abort() leaves the manifest absent). Read
# back under a declared schema through the manifest.


_PYDS_SINK_SQL = """
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 97 = 0
    """


@register("sink_python_ds", oracle=_PYDS_SINK_SQL, tags=("sink", "python_datasource"))
def sink_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a keyed slice through a Python DataSource writer
    (executor-side JSONL parts + driver commit manifest), read it
    back (integer cents).

    Scale shape: write(iterator) never materializes the partition
    (row-streamed), parts land in place, commit is one manifest write
    — the sink_manifest protocol expressed through the official
    extension API instead of hand-rolled glue. Task retries are safe:
    uncommitted duplicate parts are invisible to the manifest read
    (same decoy property sink_manifest pins)."""
    import glob
    import json as _json
    import uuid

    from pyspark.sql import types as T
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    out_dir = _tempfile.mkdtemp(prefix="pyds_sink_")

    class _PartMsg(WriterCommitMessage):
        def __init__(self, path):
            self.path = path

    class _JsonlWriter(DataSourceWriter):
        def __init__(self, base):
            self.base = base

        def write(self, iterator):
            path = _os.path.join(self.base, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(path, "w") as f:
                for row in iterator:
                    f.write(
                        _json.dumps(
                            {"o_orderkey": row[0], "cents": row[1]}
                        )
                        + "\n"
                    )
                    n += 1
            return _PartMsg(path)

        def commit(self, messages):
            manifest = {"files": sorted(m.path for m in messages)}
            tmp = _os.path.join(self.base, "_m.tmp")
            with open(tmp, "w") as f:
                _json.dump(manifest, f)
            _os.replace(tmp, _os.path.join(self.base, "MANIFEST.json"))

        def abort(self, messages):
            pass  # uncommitted parts are invisible to the manifest read

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "jsonl_manifest_sink"

        def writer(self, schema, overwrite):
            return _JsonlWriter(self.options["path"])

    spark.dataSource.register(JsonlSink)
    sl = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias(
                "cents"
            ),
        )
    )
    sl.write.format("jsonl_manifest_sink").option("path", out_dir).mode(
        "append"
    ).save()
    with open(_os.path.join(out_dir, "MANIFEST.json")) as f:
        files = _json.load(f)["files"]
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    return spark.read.schema(schema).json(files)


# --- events_anova_f ---------------------------------------------------------
#
# One-way ANOVA F across event types (k > 2 groups — the gap between
# events_ab_ttest's two-sample test and "which of my five variants
# differ at all"). Accumulation is exact integer centi-units (Σx,
# Σx² as bigints — the int64 budget holds through the tested SFs and
# is documented); each group's between-term s_g²/n_g is computed in
# ONE mirrored double expression and milli-quantized BEFORE the
# cross-group bigint sum (the ln()-discipline applied to squares),
# so no cross-row float accumulation exists anywhere.


_ANOVA_SQL = """
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s_g,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS q_g
      FROM events GROUP BY 1),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s,
             CAST(sum(q_g) AS BIGINT) AS q,
             CAST(sum(CAST(floor(CAST(s_g AS DOUBLE) * s_g / n_g * 1000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sum_term_milli
      FROM g)
    SELECT k, n,
           CAST(sum_term_milli
                - CAST(floor(CAST(s AS DOUBLE) * s / n * 1000 + 0.5) AS BIGINT)
                AS BIGINT) AS ssb_milli,
           CAST(q * 1000 - sum_term_milli AS BIGINT) AS ssw_milli,
           CAST(floor(
             (CAST(sum_term_milli
                   - CAST(floor(CAST(s AS DOUBLE) * s / n * 1000 + 0.5)
                          AS BIGINT) AS DOUBLE) / (k - 1))
             / (CAST(q * 1000 - sum_term_milli AS DOUBLE) / (n - k))
             * 1000000 + 0.5) AS BIGINT) AS f_micro
    FROM t
    """


@register("events_anova_f", oracle=_ANOVA_SQL, tags=("events", "stats", "ml"))
def events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F over event types (milli sums, micro F).

    Shapes: one map-side-combined group aggregate (k rows), one k-row
    rollup — nothing after the scan exceeds |types| rows. Int64
    budget: Σx² in centi² ≤ 10⁸ per row × 10⁹ rows = 10¹⁷ (sf100
    envelope); past that the q_g column widens to decimal, same
    plan."""
    ev = table(spark, sf_dir, "events")
    xc = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    g = ev.select("event_type", xc.alias("xc")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("xc").cast("bigint").alias("s_g"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("q_g"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("q_g").cast("bigint").alias("q"),
        F.sum(
            F.expr(
                "CAST(floor(CAST(s_g AS DOUBLE) * s_g / n_g * 1000 + 0.5)"
                " AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("sum_term_milli"),
    )
    gt = "CAST(floor(CAST(s AS DOUBLE) * s / n * 1000 + 0.5) AS BIGINT)"
    ssb = f"sum_term_milli - {gt}"
    ssw = "q * 1000 - sum_term_milli"
    return t.select(
        "k",
        "n",
        F.expr(ssb).cast("bigint").alias("ssb_milli"),
        F.expr(ssw).cast("bigint").alias("ssw_milli"),
        F.expr(
            f"CAST(floor((CAST({ssb} AS DOUBLE) / (k - 1))"
            f" / (CAST({ssw} AS DOUBLE) / (n - k)) * 1000000 + 0.5) AS BIGINT)"
        ).alias("f_micro"),
    )


# --- dq_k_anonymity ---------------------------------------------------------
#
# k-anonymity audit over quasi-identifiers: for the (nation, market
# segment) QI tuple, the equivalence-class size distribution and the
# share of customers in classes below k = 5 — the privacy screen
# a governed dataset runs before release (small classes re-identify).
# Pure integer counts.

_KANON_K = 5


_KANON_SQL = f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2),
    t AS (
      SELECT CAST(sum(class_size) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(min(class_size) AS BIGINT) AS min_class,
             CAST(sum(CASE WHEN class_size < {_KANON_K}
                           THEN class_size ELSE 0 END) AS BIGINT) AS n_at_risk
      FROM qi)
    SELECT n_rows, n_classes, min_class, n_at_risk,
           CAST(n_at_risk * 1000000 // n_rows AS BIGINT) AS at_risk_ppm,
           CAST(CASE WHEN min_class >= {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
             AS is_k_anonymous
    FROM t
    """


@register("dq_k_anonymity", oracle=_KANON_SQL, tags=("dq",))
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity report for the (nation, segment) QI tuple
    (k = 5; integer).

    Shapes: one map-side-combined QI aggregate (|nations|·|segments|
    classes), one 1-row rollup. Generalization ladders (coarsen the
    QI until k holds) re-run THIS plan per rung — the audit is the
    inner loop, which is why it must stay one exchange."""
    c = table(spark, sf_dir, "customer")
    qi = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    )
    t = qi.agg(
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("class_size").cast("bigint").alias("min_class"),
        F.sum(
            F.when(F.col("class_size") < _KANON_K, F.col("class_size")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    return t.select(
        "n_rows",
        "n_classes",
        "min_class",
        "n_at_risk",
        F.expr("n_at_risk * 1000000 DIV n_rows").cast("bigint").alias(
            "at_risk_ppm"
        ),
        F.when(F.col("min_class") >= _KANON_K, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_k_anonymous"),
    )


# --- events_ab_power --------------------------------------------------------
#
# A/B power analysis: per event_type, the required per-arm sample
# size to detect a 2% relative lift at α = 0.05 / power = 0.8
# (n = 2(z_α/2+z_β)²σ²/δ²) and whether the CURRENT arms already
# clear it — the "how long must this test run" planning number.
# Variance comes from exact integer moments; the closed form is one
# mirrored double expression, quantized. z constants are literals.

_POWER_Z = 2.8016  # z_{0.025} + z_{0.2} = 1.959964 + 0.841621, fixed literal
_POWER_REL = 0.02


_POWER_SQL = f"""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s_c,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                      * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS q_c
      FROM events GROUP BY 1)
    SELECT event_type, n,
           CAST(floor(
             2.0 * {_POWER_Z} * {_POWER_Z}
             * (CAST(q_c AS DOUBLE) / n
                - (CAST(s_c AS DOUBLE) / n) * (CAST(s_c AS DOUBLE) / n))
             / (({_POWER_REL} * CAST(s_c AS DOUBLE) / n)
                * ({_POWER_REL} * CAST(s_c AS DOUBLE) / n)) + 0.5) AS BIGINT)
             AS n_required_per_arm,
           CAST(CASE WHEN CAST(n AS DOUBLE) / 2 >= floor(
             2.0 * {_POWER_Z} * {_POWER_Z}
             * (CAST(q_c AS DOUBLE) / n
                - (CAST(s_c AS DOUBLE) / n) * (CAST(s_c AS DOUBLE) / n))
             / (({_POWER_REL} * CAST(s_c AS DOUBLE) / n)
                * ({_POWER_REL} * CAST(s_c AS DOUBLE) / n)) + 0.5)
                THEN 1 ELSE 0 END AS BIGINT) AS adequately_powered
    FROM m
    """


@register("events_ab_power", oracle=_POWER_SQL, tags=("events", "ml", "stats"))
def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Required per-arm n for a 2% lift at 80% power per event_type
    (integer) and the current-adequacy flag.

    Shapes: one map-side-combined moment aggregate; the closed form
    runs once per type from exact centi-integer moments. The
    experimentation kit is now plan → run → gate: THIS key sizes the
    test, events_ab_srm gates its health, ab_ttest / ab_mannwhitney /
    agg_ratio_ci read it out."""
    ev = table(spark, sf_dir, "events")
    xc = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    m = ev.select("event_type", xc.alias("xc")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("s_c"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("q_c"),
    )
    var = (
        "(CAST(q_c AS DOUBLE) / n"
        " - (CAST(s_c AS DOUBLE) / n) * (CAST(s_c AS DOUBLE) / n))"
    )
    delta = f"({_POWER_REL} * CAST(s_c AS DOUBLE) / n)"
    req = (
        f"floor(2.0 * {_POWER_Z} * {_POWER_Z} * {var}"
        f" / ({delta} * {delta}) + 0.5)"
    )
    return m.select(
        "event_type",
        "n",
        F.expr(f"CAST({req} AS BIGINT)").alias("n_required_per_arm"),
        F.expr(
            f"CAST(CASE WHEN CAST(n AS DOUBLE) / 2 >= {req}"
            f" THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("adequately_powered"),
    )
