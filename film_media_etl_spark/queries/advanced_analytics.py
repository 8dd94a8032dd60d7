"""Advanced analytics: winsorization, exact-moment correlation/OLS,
event-sequence transition mining, fixed-size per-group sampling,
co-occurrence (market-basket) mining, and edit-distance fuzzy matching.

The reference's statistics stop at mean/sum (SURVEY §2.D); this module
adds the model-adjacent analytics a feature/data-science workload runs
on the same warehouse. All oracle-exact:

- correlation/OLS use exact decimal moments (n, Σx, Σy, Σxy, Σx², Σy²)
  with one identical double expression in both engines — never the
  engines' streaming covariance (update-order-dependent). Moment scales
  are chosen so the scaled integers stay under 2^53 past sf1
  (quantity is integer-valued, discount has exactly 2dp — verified),
  keeping the decimal->double cast correctly rounded in both engines;
- winsorization reuses the verified percentile == quantile_cont
  interpolation parity;
- transition/co-occurrence counts carry total orders so ties cannot
  appear; the fuzzy-match blocks on brand before any distance runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import ensure_parallelism, load_table
from ._oracle_closure import oracle_closure
from .registry import register


# ---------------------------------------------------------------------------
# Winsorization (percentile clipping)
# ---------------------------------------------------------------------------


@register(
    "ext_winsorize",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN e.value < b.p05 THEN b.p05
                WHEN e.value > b.p95 THEN b.p95
                ELSE e.value END AS value_winsorized,
           (e.value < b.p05 OR e.value > b.p95) AS was_clipped
    FROM events e JOIN b ON e.event_type = b.event_type
    WHERE e.user_id < 400
    """,
)
def ext_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize event values to each type's [p05, p95] — the outlier
    treatment feature pipelines apply before normalization. Exact
    percentiles per type (tiny aggregate) broadcast back onto the
    stream: the clip itself is map-side, so at 100 TB the cost is one
    pass for the bounds and one for the clip. The percentile
    interpolation is bit-identical to DuckDB quantile_cont (verified
    in ext_stats_agg)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    e = ev.where(F.col("user_id") < 400)
    v, lo, hi = F.col("value"), F.col("p05"), F.col("p95")
    return e.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.when(v < lo, lo).when(v > hi, hi).otherwise(v).alias("value_winsorized"),
        ((v < lo) | (v > hi)).alias("was_clipped"),
    )


# ---------------------------------------------------------------------------
# Exact-moment correlation + OLS regression
# ---------------------------------------------------------------------------

_MOMENTS_SQL = """
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                      * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                      * CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_discount AS DECIMAL(9,4))
                      * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
"""


@register(
    "ext_corr_ols",
    oracle=f"""
    WITH m AS ({_MOMENTS_SQL})
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_disc,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS ols_slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS ols_intercept
    FROM m
    """,
)
def ext_corr_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and OLS fit (discount ~ quantity) per return
    flag, from exact decimal moments — one hash aggregate, then scalar
    math on a 3-row result. The engines' built-in corr()/covar() are
    streaming updates whose float error depends on partition order —
    unusable under an exact oracle and irreproducible across cluster
    sizes; the moment formulation is associativity-proof and costs the
    same single pass. Scales: quantity is integer-valued (scale 0),
    discount exactly 2dp (scale 4 covers products) — scaled sums stay
    under 2^53 past sf1, so the final decimal->double casts are
    correctly rounded in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,0)")
    y = F.col("l_discount").cast("decimal(9,4)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_disc"),
        slope.alias("ols_slope"),
        ((sy - slope * sx) / n).alias("ols_intercept"),
    )


# ---------------------------------------------------------------------------
# Event-sequence transition mining (Markov transition counts)
# ---------------------------------------------------------------------------


@register(
    "ext_event_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch(CAST(ts AS TIMESTAMP)), event_id)
               AS next_type
      FROM events
    ), t AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS cnt
      FROM s WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(cnt AS BIGINT) AS n_transitions,
           CAST(cnt AS DOUBLE)
             / CAST(SUM(cnt) OVER (PARTITION BY from_type) AS DOUBLE) AS p_transition
    FROM t
    """,
)
def ext_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: lead() within user (total (ts, event_id) order), count
    (from, to) pairs, normalize rows into transition probabilities. The
    journey-mining primitive behind next-action models. One exchange on
    user_id for the lead, then the pair aggregate collapses to
    |types|^2 rows — the probability window runs on that tiny table."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_timestamp("ts"), "event_id")
    s = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).where(F.col("next_type").isNotNull())
    t = s.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_row = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        F.col("cnt").alias("n_transitions"),
        (F.col("cnt").cast("double") / F.sum("cnt").over(w_row).cast("double")).alias(
            "p_transition"
        ),
    )


# ---------------------------------------------------------------------------
# Fixed-size deterministic sample per group
# ---------------------------------------------------------------------------


@register(
    "ext_sample_per_group",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents
    )
    SELECT doc_id, lang, n_chars, CAST(rn AS BIGINT) AS sample_rank
    FROM r WHERE rn <= 25
    """,
)
def ext_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sample (k=25 per language): rank by md5 of
    the key and keep the k smallest — a deterministic reservoir
    replacement whose membership is recomputable from keys alone. Unlike
    rate-based sampling (ext_stratified_sample) the output size is fixed
    per group regardless of stratum skew — what an eval-set builder
    needs. One exchange on lang; Spark computes per-partition top-k
    before the final rank, so the shuffle carries candidates, not the
    corpus."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 25)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.col("rn").cast("long").alias("sample_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Co-occurrence (market-basket) mining
# ---------------------------------------------------------------------------


@register(
    "ext_cooccurrence",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), total AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_both,
           CAST(COUNT(*) AS DOUBLE) / CAST(t.n_users AS DOUBLE) AS support
    FROM u a
    JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
    CROSS JOIN total t
    GROUP BY a.event_type, b.event_type, t.n_users
    """,
)
def ext_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise co-occurrence of event types across users (market-basket
    support): distinct (user, type) self-joined within user, pair counts
    over the total user count. The distinct pass bounds the self-join
    input to n_users x n_types rows, and each user contributes at most
    C(|types|,2) pairs — the standard guard that keeps basket mining
    linear in users rather than quadratic in raw events."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id", "event_type").distinct()
    n_users = ev.select("user_id").distinct().count()
    a, b = u.alias("a"), u.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .select(
            "type_a",
            "type_b",
            "n_both",
            (F.col("n_both").cast("double") / F.lit(float(n_users))).alias("support"),
        )
    )


# ---------------------------------------------------------------------------
# Edit-distance fuzzy matching
# ---------------------------------------------------------------------------


_FUZZY_ORACLE = """
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
      AND a.p_name <> b.p_name
    """


@register("ext_fuzzy_match", oracle=_FUZZY_ORACLE)
def ext_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: near-identical part names (edit distance
    <= 2, excluding exact equals) within a brand block. Blocking on
    p_brand makes the distance work quadratic only inside blocks, never
    across the whole catalog; the block join itself is a plain equi-join
    Spark shuffles on brand. Two COMPLETE prefilters (length difference
    <= 2, inequality) run before any distance; the distance itself is
    Spark's bounded levenshtein (threshold arg) which abandons a pair
    the moment the running minimum exceeds 2 — O(t*n) per pair, all
    inside whole-stage codegen. On THIS corpus (25 brands x ~800 parts,
    ~95k true near-dup pairs at sf0.1) the in-block quadratic beats
    segment blocking — the output is a sizable fraction of the block
    pairs, so no blocking can asymptotically win; see
    ext_fuzzy_match_passjoin for the regime where blocks are huge and
    matches sparse. Spark and DuckDB levenshtein both implement
    unit-cost edit distance, so the threshold cut is exact."""
    p = load_table(spark, sf_dir, "part")
    a = p.alias("a")
    b = p.alias("b")
    dist_capped = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2)
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .where(
            (F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))) <= 2)
            & (F.col("a.p_name") != F.col("b.p_name"))
        )
        .withColumn("edit_dist", dist_capped)
        .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= 2))
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("edit_dist").cast("int").alias("edit_dist"),
        )
    )


@register("ext_fuzzy_match_passjoin", oracle=_FUZZY_ORACLE)
def ext_fuzzy_match_passjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH spelling of ext_fuzzy_match (identical output,
    identical oracle): when blocks are huge and true matches sparse, the
    in-block quadratic is the bottleneck — at 1M parts per brand it is
    5*10^11 levenshtein calls. Segment blocking bounds the pairs that
    ever get SCORED to near-collisions, and verification runs map-side
    inside the join's codegen stage, so nothing candidate-sized is ever
    shuffled or materialized — the only pair-keyed exchange is the
    final dedup over TRUE pairs (linear in corpus growth even when a
    saturated name space makes raw candidates quadratic).

    Alternative, rejected: a 4-segment DOUBLE-match variant
    (pigeonhole: 2 edits preserve >= 2 of 4 segments, join on segment
    PAIRS with the exact shift budget |d1|+|d2-d1|+|delta-d2| <= tau)
    produces identical output but runs slower: the probe-side
    enumeration multiplies while segment pairs drawn from
    copy-blind word interiors still collide, so the candidate reduction
    never pays for the enumeration. Map-side bounded levenshtein is
    simply cheaper than avoiding it."""
    p = ensure_parallelism(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    )
    tau = 2  # edit-distance threshold

    # PassJoin-style segment blocking (Li, Deng, Feng: "PassJoin: A
    # Partition-based Method for Similarity Joins", PVLDB 5(3)), sized
    # for tau=2: split every string into tau+1=3 contiguous segments; any
    # pair within tau edits preserves at least one segment VERBATIM
    # (pigeonhole — 2 edits cannot touch 3 disjoint segments), displaced
    # by at most tau positions (net indels before it). So an exact
    # equi-join on (brand, assumed_len, segment_no, segment_text) with
    # the probe side enumerating len in [l-2, l+2] x shift in [-2, 2]
    # finds EVERY qualifying pair — candidates shrink from all same-brand
    # pairs (~8M at sf0.1, quadratic in block size at scale) to near-
    # collisions only, and each join is a plain hash shuffle. Bounded
    # levenshtein then verifies exactly; a blocked-quadratic fallback
    # covers strings too short to carve 3 non-empty segments (< 3 chars).
    la = F.length("p_name")

    def _idiv(c, n):  # integer division on non-negative length columns
        return F.floor(c / n).cast("int")

    l1, l2 = la - _idiv(2 * la, 3), _idiv(2 * la, 3) - _idiv(la, 3)  # l3 = la//3

    segs = p.where(la >= 3).select(
        F.col("p_partkey").alias("key_s"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_s"),
        la.alias("len_s"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k + 1).alias("seg_no"),
                        F.substring(F.col("p_name"), s, (e - s) + 1).alias("seg"),
                    )
                    for k, (s, e) in enumerate(
                        [
                            (F.lit(1), l1),
                            (l1 + 1, l1 + l2),
                            (l1 + l2 + 1, la),
                        ]
                    )
                ]
            )
        ).alias("sg"),
    )
    # Probe enumeration as THREE small cascaded explodes (assumed length,
    # segment number, position shift) rather than one 75-struct array —
    # a single flat array blows the 64KB JVM method limit and kicks the
    # whole Generate out of codegen (observed; interpreted fallback).
    # Row count is identical (5 x 3 x 5 per part), each Generate tiny.
    lb = F.length("p_name")
    al = F.col("_alen")
    p1 = al - _idiv(2 * al, 3)  # segment lengths under the assumed length
    p2 = _idiv(2 * al, 3) - _idiv(al, 3)
    start = F.element_at(F.array(F.lit(1), p1 + 1, p1 + p2 + 1), F.col("_k"))
    plen = F.element_at(F.array(p1, p2, _idiv(al, 3)), F.col("_k"))
    probes = (
        p.select(
            F.col("p_partkey").alias("key_p"),
            F.col("p_brand").alias("brand"),
            "p_name",
            F.explode(
                F.array(*[(lb + d).cast("int") for d in range(-tau, tau + 1)])
            ).alias("_alen"),
        )
        .where(al >= 3)
        .withColumn("_k", F.explode(F.array(*[F.lit(k) for k in (1, 2, 3)])))
        .withColumn("_dpos", F.explode(F.array(*[F.lit(d) for d in range(-tau, tau + 1)])))
        # Multi-match-aware window (PassJoin Lemma 3): for segment k of a
        # string with assumed length alen probed against r (len lb,
        # delta = lb - alen), a match within tau edits can only start at
        # shift d in [max(-(k-1), delta-(tau+1-k)), min(k-1, delta+(tau+1-k))]
        # — earlier segments can be displaced only by edits BEFORE them
        # (<= k-1) and later ones must leave room for the remaining
        # tau+1-k segments to absorb the rest of delta. A strict subset
        # of the naive +-tau enumeration, so completeness is untouched;
        # it cuts probe rows and raw candidate duplication before the
        # distinct shuffle, which is the stage that dominates.
        .where(
            (
                F.col("_dpos")
                >= F.greatest(-(F.col("_k") - 1), (lb - al) - (F.lit(tau + 1) - F.col("_k")))
            )
            & (
                F.col("_dpos")
                <= F.least(F.col("_k") - 1, (lb - al) + (F.lit(tau + 1) - F.col("_k")))
            )
        )
        .select(
            "key_p",
            "brand",
            "p_name",  # carried through for the map-side verify
            F.col("_alen").alias("alen"),
            F.col("_k").alias("seg_no"),
            F.col("p_name").substr((start + F.col("_dpos")).cast("int"), plen.cast("int")).alias("probe"),
        )
        .where(F.length("probe") > 0)
        # duplicate probe windows (same text at overlapping shifts) only
        # re-yield candidate pairs the later distinct() removes — cheaper
        # than a dedup shuffle here
    )

    # VERIFY BEFORE ANY CANDIDATE SHUFFLE (the round-5 saturation fix):
    # the bounded levenshtein runs directly on the segment-join output,
    # inside the same codegen stage, so raw candidates die map-side and
    # the only pair-keyed shuffle — the multi-segment-match dedup — sees
    # TRUE pairs only. True pairs are exactly linear in corpus growth
    # (verified at 16x: 16 x the 1x count), while raw candidates grow
    # quadratically on a saturated name space (TPC-H's fixed two-word
    # vocabulary): the earlier shape shuffled the raw candidates into a
    # distinct() first, which is what blew 33x wall at 16x data and
    # OOMed the memory-squeezed spill probe. Each early-abandoning
    # levenshtein on a ~20-char name is sub-microsecond; shuffling the
    # pair row it would have produced costs more. The name join-backs
    # disappear too — both names are already on the joined row.

    def _verified(pairs: DataFrame, key_l, key_r, name_l, name_r) -> DataFrame:
        # The filter runs on the RAW column refs (levenshtein, the length
        # gate, and inequality are all symmetric), so each of the
        # candidate-volume rows evaluates exactly one cheap gate chain;
        # the ordered (ka, kb, name_a, name_b) projection — two CASEs —
        # is built only for SURVIVORS (true pairs, 100-200x fewer on the
        # saturated 16x corpus).
        d = F.levenshtein(name_l, name_r, tau)
        l_first = key_l < key_r
        return (
            pairs.where(
                (F.abs(F.length(name_l) - F.length(name_r)) <= tau)
                & (name_l != name_r)
            )
            .withColumn("edit_dist", d)
            .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= tau))
            .select(
                F.least(key_l, key_r).alias("ka"),
                F.greatest(key_l, key_r).alias("kb"),
                F.when(l_first, name_l).otherwise(name_r).alias("name_a"),
                F.when(l_first, name_r).otherwise(name_l).alias("name_b"),
                "edit_dist",
            )
        )

    pairs_seg = _verified(
        segs.join(
            probes,
            (segs.brand == probes.brand)
            & (F.col("sg.seg_no") == probes.seg_no)
            & (F.col("len_s") == probes.alen)
            & (F.col("sg.seg") == probes.probe)
            & (F.col("key_s") != F.col("key_p")),
        ),
        F.col("key_s"),
        F.col("key_p"),
        F.col("name_s"),
        F.col("p_name"),
    )
    # completeness fallback: strings with < 3 chars cannot be segmented —
    # brute-force them against their brand block (one side tiny)
    pairs_short = _verified(
        p.where(la < 3)
        .alias("s")
        .join(
            p.alias("t"),
            (F.col("s.p_brand") == F.col("t.p_brand"))
            & (F.col("s.p_partkey") != F.col("t.p_partkey")),
        ),
        F.col("s.p_partkey"),
        F.col("t.p_partkey"),
        F.col("s.p_name"),
        F.col("t.p_name"),
    )
    # a pair can match on several segments/shifts; every copy carries the
    # same deterministic (names, dist), so distinct() is a pure dedup
    return (
        pairs_seg.unionByName(pairs_short)
        .select(
            F.col("ka").alias("key_a"),
            F.col("kb").alias("key_b"),
            "name_a",
            "name_b",
            F.col("edit_dist").cast("int").alias("edit_dist"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (experimentation analytics)
# ---------------------------------------------------------------------------


@register(
    "ext_cuped",
    oracle="""
    WITH bounds AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid_us FROM events
    ),
    um AS (
      SELECT user_id,
             COALESCE(SUM(CASE WHEN epoch_us(ts) < (SELECT mid_us FROM bounds)
                               THEN CAST(ROUND(value, 3) AS DECIMAL(18,3)) END),
                      0) AS x,
             COALESCE(SUM(CASE WHEN epoch_us(ts) >= (SELECT mid_us FROM bounds)
                               THEN CAST(ROUND(value, 3) AS DECIMAL(18,3)) END),
                      0) AS y
      FROM events GROUP BY user_id
    ),
    armed AS (
      SELECT CASE WHEN (
               (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 1, 1)) - 1) * 1048576
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 2, 1)) - 1) * 65536
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 3, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 4, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 5, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 6, 1)) - 1)
             ) / 16777216.0 < 0.5 THEN 'treat' ELSE 'control' END AS arm,
             x, y
      FROM um
    ),
    pooled AS (
      SELECT COUNT(*) AS np,
             CAST(SUM(x) AS DOUBLE) AS sxp,
             CAST(SUM(y) AS DOUBLE) AS syp,
             CAST(SUM(x * y) AS DOUBLE) AS sxyp,
             CAST(SUM(x * x) AS DOUBLE) AS sxxp
      FROM armed
    ),
    arms AS (
      SELECT arm, COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM armed GROUP BY arm
    )
    SELECT arm, CAST(n AS BIGINT) AS n_users,
           (np * sxyp - sxp * syp) / (np * sxxp - sxp * sxp) AS theta,
           sy / n AS mean_y,
           sy / n - (np * sxyp - sxp * syp) / (np * sxxp - sxp * sxp)
                    * (sx / n - sxp / np) AS mean_y_cuped,
           (syy - sy * sy / n) / n AS var_y,
           (syy - sy * sy / n) / n
             - 2 * ((np * sxyp - sxp * syp) / (np * sxxp - sxp * sxp))
                 * ((sxy - sx * sy / n) / n)
             + ((np * sxyp - sxp * syp) / (np * sxxp - sxp * sxp))
                 * ((np * sxyp - sxp * syp) / (np * sxxp - sxp * sxp))
                 * ((sxx - sx * sx / n) / n) AS var_y_cuped
    FROM arms CROSS JOIN pooled
    """,
)
def ext_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for A/B experiments (Deng et al., WSDM
    2013): adjust each arm's outcome metric by the pre-period covariate,
    y_cuped = y - theta*(x - E[x]), theta = cov(x,y)/var(x) pooled —
    the standard trick that cuts metric variance (and so experiment
    runtime) by the squared pre/post correlation. Here: users split
    into deterministic md5-hash arms (the engine's reproducible-
    sampling convention), x = a user's event value in the first half of
    the observation window, y = in the second half.

    Exactness: per-user sums quantize value to 3 decimals and sum as
    DECIMAL (order-proof); arm/pooled moments are decimal sums cast to
    double once; every derived statistic (theta, adjusted means,
    variances) is then scalar double algebra spelled identically in
    both engines — the same moments discipline as ext_corr_ols, because
    built-in covar()/var() are partition-order-dependent. The midpoint
    split compares integer epoch microseconds (both engines read the
    parquet timestamps at microsecond precision). Scale shape: one
    corpus-sized per-user aggregate, then everything is arm-sized."""
    from .llm_curation import _uniform_expr

    ev = load_table(spark, sf_dir, "events")
    # integer midpoint ((min+max) div 2) — matches the oracle's integer //
    # exactly at ANY epoch magnitude; the former double-divide agreed only
    # while min+max stayed < 2^52 (ADVICE r3)
    b = ev.agg(
        F.expr(
            "(min(unix_micros(cast(ts as timestamp)))"
            " + max(unix_micros(cast(ts as timestamp)))) div 2"
        ).alias("mid_us")
    )
    val = F.round(F.col("value"), 3).cast("decimal(18,3)")
    um = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.unix_micros(F.col("ts").cast("timestamp")) < F.col("mid_us"), val)), F.lit(0)
            ).cast("decimal(38,3)").alias("x"),
            F.coalesce(
                F.sum(F.when(F.unix_micros(F.col("ts").cast("timestamp")) >= F.col("mid_us"), val)), F.lit(0)
            ).cast("decimal(38,3)").alias("y"),
        )
    )
    armed = um.select(
        F.when(F.expr(_uniform_expr("user_id")) < 0.5, F.lit("treat"))
        .otherwise(F.lit("control"))
        .alias("arm"),
        "x",
        "y",
    )
    pooled = armed.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").cast("double").alias("sxp"),
        F.sum("y").cast("double").alias("syp"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxyp"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxxp"),
    )
    arms = armed.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    j = arms.crossJoin(F.broadcast(pooled))
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    np_, sxp, syp, sxyp, sxxp = (F.col(c) for c in ("np", "sxp", "syp", "sxyp", "sxxp"))
    theta = (np_ * sxyp - sxp * syp) / (np_ * sxxp - sxp * sxp)
    var_y = (syy - sy * sy / n) / n
    cov_a = (sxy - sx * sy / n) / n
    var_x = (sxx - sx * sx / n) / n
    return j.select(
        "arm",
        F.col("n").cast("long").alias("n_users"),
        theta.alias("theta"),
        (sy / n).alias("mean_y"),
        (sy / n - theta * (sx / n - sxp / np_)).alias("mean_y_cuped"),
        var_y.alias("var_y"),
        (var_y - F.lit(2) * theta * cov_a + theta * theta * var_x).alias("var_y_cuped"),
    )


@register(
    "ext_ab_significance",
    oracle="""
    WITH ua AS (
      SELECT user_id,
             CASE WHEN (
               (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 1, 1)) - 1) * 1048576
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 2, 1)) - 1) * 65536
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 3, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 4, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 5, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(md5(CAST(user_id AS STRING)), 6, 1)) - 1)
             ) / 16777216.0 < 0.5 THEN 'treat' ELSE 'control' END AS arm,
             CASE WHEN COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) >= 14
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT
        CAST(COUNT(*) FILTER (WHERE arm = 'treat') AS BIGINT) AS n1,
        CAST(SUM(conv) FILTER (WHERE arm = 'treat') AS BIGINT) AS c1,
        CAST(COUNT(*) FILTER (WHERE arm = 'control') AS BIGINT) AS n2,
        CAST(SUM(conv) FILTER (WHERE arm = 'control') AS BIGINT) AS c2
      FROM ua
    )
    SELECT n1 AS n_treat, c1 AS conv_treat, n2 AS n_control, c2 AS conv_control,
           CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2 AS lift,
           CASE WHEN c1 + c2 = 0 OR c1 + c2 = n1 + n2 THEN 0.0
                ELSE (CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                     / sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                            * (1.0 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                            * (1.0 / n1 + 1.0 / n2))
           END AS z_score
    FROM s
    """,
)
def ext_ab_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion by experiment arm — the
    significance readout that closes the experimentation suite
    (ext_cuped reduces the variance, this tests the difference):
    pooled-proportion z = (p1-p2)/sqrt(p(1-p)(1/n1+1/n2)) over the
    same deterministic md5-hash arms; 'conversion' is the >= 14-purchase
    engagement threshold (the Shapley op's convention — a bare
    any-purchase flag saturates to 100% on the fixture and degenerates
    the statistic). Counts are exact integers and the
    statistic is one scalar double expression spelled identically in
    both engines; the whole query is one per-user aggregate plus a
    1-row re-aggregate — two exchanges at any corpus size."""
    from .llm_curation import _uniform_expr

    ev = load_table(spark, sf_dir, "events")
    ua = ev.groupBy("user_id").agg(
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)) >= 14, 1
        ).otherwise(0).alias("conv")
    ).select(
        F.when(F.expr(_uniform_expr("user_id")) < 0.5, F.lit("treat"))
        .otherwise(F.lit("control"))
        .alias("arm"),
        "conv",
    )
    s = ua.agg(
        F.count(F.when(F.col("arm") == "treat", 1)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == "treat", F.col("conv"))).cast("long").alias("c1"),
        F.count(F.when(F.col("arm") == "control", 1)).cast("long").alias("n2"),
        F.sum(F.when(F.col("arm") == "control", F.col("conv"))).cast("long").alias("c2"),
    )
    n1, c1, n2, c2 = (F.col(c) for c in ("n1", "c1", "n2", "c2"))
    p1, p2 = c1.cast("double") / n1, c2.cast("double") / n2
    pp = (c1 + c2).cast("double") / (n1 + n2)
    return s.select(
        n1.alias("n_treat"),
        c1.alias("conv_treat"),
        n2.alias("n_control"),
        c2.alias("conv_control"),
        (p1 - p2).alias("lift"),
        # degenerate pools (all or none converted) have zero pooled
        # variance — define z = 0 rather than 0/0 (ANSI div-by-zero)
        F.when((c1 + c2 == 0) | (c1 + c2 == n1 + n2), F.lit(0.0))
        .otherwise(
            (p1 - p2)
            / F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1 + F.lit(1.0) / n2))
        )
        .alias("z_score"),
    )


@register(
    "ext_golden_record",
    oracle=f"""
    WITH RECURSIVE pr AS MATERIALIZED ({_FUZZY_ORACLE}),
    {oracle_closure(a="key_a", b="key_b")},
    cc AS (SELECT src AS pk, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    m AS (
      SELECT p.p_partkey, p.p_name, p.p_size, p.p_retailprice,
             COALESCE(cc.cluster_id, p.p_partkey) AS cluster_id
      FROM part p LEFT JOIN cc ON p.p_partkey = cc.pk
    ),
    per AS (
      SELECT cluster_id, COUNT(*) AS n_members,
             MAX(length(p_name)) AS maxlen,
             CAST(MIN(p_size) AS INT) AS min_size,
             CAST(MAX(p_retailprice) AS DOUBLE) AS max_retail
      FROM m GROUP BY cluster_id
    ),
    nm AS (
      SELECT m.cluster_id, MIN(m.p_name) AS golden_name
      FROM m JOIN per ON m.cluster_id = per.cluster_id
                      AND length(m.p_name) = per.maxlen
      GROUP BY m.cluster_id
    )
    SELECT per.cluster_id, per.n_members, nm.golden_name,
           per.min_size, per.max_retail
    FROM per JOIN nm ON per.cluster_id = nm.cluster_id
    """,
)
def ext_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END-TO-END — the MDM pipeline the pair ops feed:
    fuzzy-match pairs (the PassJoin scale path), transitive duplicate
    CLUSTERS via pointer-doubling connected components, then per-cluster
    SURVIVORSHIP into one golden record (deterministic rules: name =
    longest, ties lexicographically smallest; min size; max price;
    unmatched parts are their own singleton cluster via the left join).
    The longest-name pick is groupBy-max + join-back + min — two
    skew-safe aggregates instead of a per-cluster window, so one
    boilerplate mega-cluster cannot pin a partition at 100 TB. The
    oracle re-derives the same clusters as a recursive-CTE closure over
    the identical (oracle-checked) pair set."""
    from ..operators.dedup import connected_components

    pairs = ext_fuzzy_match_passjoin(spark, sf_dir).select(
        F.col("key_a").alias("doc_id_a"), F.col("key_b").alias("doc_id_b")
    )
    cc = connected_components(pairs).withColumnRenamed("doc_id", "pk")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_size", "p_retailprice"
    )
    m = p.join(cc, p["p_partkey"] == cc["pk"], "left").select(
        "p_partkey",
        "p_name",
        "p_size",
        "p_retailprice",
        F.coalesce("cluster_id", "p_partkey").alias("cluster_id"),
    )
    per = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(F.length("p_name")).alias("maxlen"),
        F.min("p_size").cast("int").alias("min_size"),
        F.max("p_retailprice").cast("double").alias("max_retail"),
    )
    nm = (
        m.join(per.select("cluster_id", "maxlen"), "cluster_id")
        .where(F.length("p_name") == F.col("maxlen"))
        .groupBy("cluster_id")
        .agg(F.min("p_name").alias("golden_name"))
    )
    return per.join(nm, "cluster_id").select(
        "cluster_id", "n_members", "golden_name", "min_size", "max_retail"
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend
# ---------------------------------------------------------------------------


@register(
    "ext_theil_sen",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.event_type,
             (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    fit AS (
      SELECT event_type, quantile_cont(slope, 0.5) AS slope
      FROM slopes GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           MIN(f.slope) AS slope,
           quantile_cont(d.y - f.slope * d.x, 0.5) AS intercept
    FROM daily d JOIN fit f USING (event_type)
    GROUP BY d.event_type
    """,
)
def ext_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: slope = MEDIAN of all
    pairwise day-over-day slopes of the daily value series, intercept =
    median residual — the outlier-resistant complement to ext_corr_ols
    (one corrupted day shifts OLS arbitrarily; Theil-Sen tolerates up
    to ~29% contamination).

    Exactness: daily totals are decimal sums cast once to double; each
    pairwise slope is one deterministic double expression; both medians
    are percentile()/quantile_cont — pinned bit-for-bit cross-engine
    (the ext_anomaly_mad precedent).

    Scale shape: the corpus collapses to a (type, day) frame FIRST (one
    map-side-combined aggregate), so the O(n^2) pair join is quadratic
    only in DAYS per type — bounded by the calendar, not the corpus; a
    10-year series is ~6.7M pairs per type, trivially partitionable on
    the type key."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("x"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("y")
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y"))
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope"),
    )
    fit = slopes.groupBy("event_type").agg(
        F.expr("percentile(slope, 0.5D)").alias("slope")
    )
    return (
        daily.join(F.broadcast(fit), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.min("slope").alias("slope"),
            F.expr("percentile(y - slope * x, 0.5D)").alias("intercept"),
        )
    )
