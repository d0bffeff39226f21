"""Round-5 query slate: 48 live queries, each registered at import with
``register``.

The flat-form ``gsw_dynamic_enthalpy`` and ``gsw_enthalpy`` builders
(waves 7 and 10) stay here UNREGISTERED, as reference code: the live
names are served by the staged-Horner twins in plans/staged_r9.py, and
tests/test_staged_r9.py pins the twins value-identical to these forms.

Content:
- EOS-80 high-pressure density (UNESCO 1983 secant bulk modulus; check
  values rho(35,25,10000 dbar)=1062.53817, rho(35,5,10000)=1069.48914
  pinned in tests);
- UNESCO 1983 adiabatic lapse rate (check value
  gamma(40,40,10000)=3.255976e-4 K/dbar);
- TEOS-10 sigma1/sigma2 from the existing 75-term polynomial;
- window value functions (first/last/nth with explicit frames);
- b-bit (1-bit) minhash similarity over LSH candidates;
- tokenizer fertility per language;
- stopword density quality feature;
- session duration/size stats;
- funnel step conversion rates.

Wave 2: sigma_theta; logistic quality classifier; kNN label accuracy;
n-gram novelty; snapshot CDC diff; RANGE-INTERVAL window frame;
GROUPING_ID flags.
Wave 3: bigram LM scoring; per-source dedup survivorship;
nearest-tolerance as-of; integer PageRank (unrolled-CTE oracle).
Wave 4: SCD2 point-in-time lookup; bag Jaccard pairs;
Mahalanobis-diagonal embedding outliers.
Wave 5: A-Res weighted sampling; NULL-skew-isolated left join;
EXCEPT/INTERSECT ALL; component size histogram.
Wave 6: frequent-items sketch (recall-pinned); normalized exact dedup
(C4 recipe); watermark late-data audit.
Wave 7: TEOS-10 dynamic enthalpy (derivative-pinned); token-bucket
rate limiter (recursive-CTE oracle; streaming twin in
streaming/windows.py).
Wave 8: langid confusion matrix; IOS profile sound speed (reference
vertical end-to-end).
Wave 9: winnowing fingerprints; A/B test lift.
Wave 10: full enthalpy; winnowing candidate pairs.
Wave 11: co-located bucketed join (zero-Exchange plan pinned);
day-of-week seasonality.
Wave 12: sweep-line interval backlog.
Wave 13: CT-native sound speed (derivative + Mackenzie envelope).
Wave 14: CUSUM range drift; dedup layer funnel.
Wave 15: packed binary embedding signatures (multi-index Hamming);
Zipf slope.
Wave 16: kappa compressibility (rho*c^2*kappa = 1 identity); Heaps'
law fit; Gini concentration; Simpson diversity.

Organization note (round 5): the module deliberately stays ONE file
rather than splitting into per-family modules — it is now live registry
code whose query names anchor CORRECTNESS tracking across rounds, the
waves give it the same family grouping a split would, and the only
cross-family sharing worth extracting (the shingle/minhash/LSH CTE
bank) lives in plans/dedup_queries.py where every module imports it.

The round-4 intentional duplication was hoisted at activation (the
cleanup the staging plan scheduled): dedup_bag_jaccard_pairs and
dedup_bbit_minhash now build on the SHARED shingle/minhash/LSH CTE bank
(_SHINGLES_CTE/_LSH_CAND_CTES from plans/dedup_queries.py, Spark side
via distinct_shingles + lsh_band_buckets — the private band encoding
was equivalent but not byte-identical, so aligning it changed bucket
strings without changing any candidate pair), and the funnel/histogram
oracles share CONFIRMED_COMPONENT_CTES instead of duplicating the
components walk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cioos_siooc_data_transform_spark.session import checkpoint_df
from cioos_siooc_data_transform_spark.operators.graphs import copurchase_pair_support
from cioos_siooc_data_transform_spark.plans.dedup_queries import (
    _LSH_CAND_CTES,
    _SHINGLES_CTE,
    distinct_shingles,
)
from cioos_siooc_data_transform_spark.plans.registry import register
from cioos_siooc_data_transform_spark.session import read_table as _t


# ---------------------------------------------------------------------------
# Shared synthetic oceanographic inputs (same derivation as
# plans/oceanography_queries.py, so these queries join that family
# unchanged).
# ---------------------------------------------------------------------------
_IN_SQL = """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity % 30 AS DOUBLE) AS t,
           CAST(30.0 + l_discount * 50 AS DOUBLE) AS s,
           CAST(l_linenumber * 100.0 AS DOUBLE) AS p
    FROM lineitem
"""


def _inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") % 30).cast("double").alias("t"),
        (F.lit(30.0) + F.col("l_discount") * 50).cast("double").alias("s"),
        (F.col("l_linenumber") * 100.0).cast("double").alias("p"),
    )


# ---------------------------------------------------------------------------
# EOS-80 secant bulk modulus K(S, T, P) and high-pressure density
# (UNESCO 1983 / Fofonoff & Millard, public standard; P in BAR inside K,
# pressure input in dbar). SQL template shared by the Spark side
# (F.expr) and the oracle — typed exactly once.
# ---------------------------------------------------------------------------
def _rho0_sql(s: str, t: str) -> str:
    return (
        f"((999.842594e0 + 6.793952e-2*{t} - 9.095290e-3*{t}*{t}"
        f" + 1.001685e-4*{t}*{t}*{t} - 1.120083e-6*{t}*{t}*{t}*{t}"
        f" + 6.536332e-9*{t}*{t}*{t}*{t}*{t})"
        f" + (8.24493e-1 - 4.0899e-3*{t} + 7.6438e-5*{t}*{t}"
        f" - 8.2467e-7*{t}*{t}*{t} + 5.3875e-9*{t}*{t}*{t}*{t})*{s}"
        f" + (-5.72466e-3 + 1.0227e-4*{t} - 1.6546e-6*{t}*{t})"
        f"*(sqrt({s})*{s}) + 4.8314e-4*{s}*{s})"
    )


def _bulk_modulus_sql(s: str, t: str, pbar: str) -> str:
    kw = (
        f"(19652.21e0 + 148.4206e0*{t} - 2.327105e0*{t}*{t}"
        f" + 1.360477e-2*{t}*{t}*{t} - 5.155288e-5*{t}*{t}*{t}*{t})"
    )
    k0 = (
        f"({kw} + (54.6746e0 - 0.603459e0*{t} + 1.09987e-2*{t}*{t}"
        f" - 6.1670e-5*{t}*{t}*{t})*{s}"
        f" + (7.944e-2 + 1.6483e-2*{t} - 5.3009e-4*{t}*{t})*(sqrt({s})*{s}))"
    )
    a = (
        f"((3.239908e0 + 1.43713e-3*{t} + 1.16092e-4*{t}*{t}"
        f" - 5.77905e-7*{t}*{t}*{t})"
        f" + (2.2838e-3 - 1.0981e-5*{t} - 1.6078e-6*{t}*{t})*{s}"
        f" + 1.91075e-4*(sqrt({s})*{s}))"
    )
    b = (
        f"((8.50935e-5 - 6.12293e-6*{t} + 5.2787e-8*{t}*{t})"
        f" + (-9.9348e-7 + 2.0816e-8*{t} + 9.1697e-10*{t}*{t})*{s})"
    )
    return f"({k0} + {a}*{pbar} + {b}*{pbar}*{pbar})"


def rho_eos80_sql(s: str, t: str, p_dbar: str) -> str:
    """In-situ density rho(S, T, p) via rho0/(1 - P/K), P = p/10 bar."""
    pbar = f"(({p_dbar})/10.0e0)"
    return (
        f"({_rho0_sql(s, t)}"
        f"/(1.0e0 - {pbar}/{_bulk_modulus_sql(s, t, pbar)}))"
    )


@register(
    "gsw_rho_at_pressure",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           round({rho_eos80_sql("s", "t", "p")}, 6) AS rho_p
    FROM ({_IN_SQL})
    """,
)
def gsw_rho_at_pressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EOS-80 in-situ density at pressure: one-atmosphere density divided
    by (1 - P/K) with the UNESCO 1983 secant bulk modulus. Completes the
    EOS-80 family (surface rho/sigma0/alpha/beta already ship); pure
    codegen arithmetic, zero shuffle."""
    df = _inputs(spark, sf_dir)
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.expr(rho_eos80_sql("s", "t", "p")), 6).alias("rho_p"),
    )


# UNESCO 1983 adiabatic lapse rate — moved to functions/oceanography.py
# (round 5) so the RK4 potential-temperature integration can build on it
# without a functions -> plans dependency; re-exported here because the
# registered gsw_adiabatic_lapse_rate oracle and tests import it by this
# name.
from cioos_siooc_data_transform_spark.functions.oceanography import (  # noqa: E402
    lapse_rate_sql,
)


@register(
    "gsw_adiabatic_lapse_rate",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           floor({lapse_rate_sql("s", "t", "p")} * 1.0e10 + 0.5) / 1.0e10
             AS lapse_k_per_dbar
    FROM ({_IN_SQL})
    """,
)
def gsw_adiabatic_lapse_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adiabatic temperature gradient Gamma(S, T, p) — the kernel under
    potential-temperature integration (the Bryden polynomial the engine
    already ships is a closed-form fit of integrating THIS). Identical
    literal arithmetic on both engines; floor-rounded at 1e-10 K/dbar."""
    df = _inputs(spark, sf_dir)
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(F.expr(lapse_rate_sql("s", "t", "p")) * 1.0e10 + 0.5) / 1.0e10
        ).alias("lapse_k_per_dbar"),
    )


_SA_SQL = "(s*(35.16504e0/35.0e0))"


def _sigma_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        rho_sql,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           round({rho_sql("sa", "ct", "1000.0e0")} - 1000.0e0, 6) AS sigma1,
           round({rho_sql("sa", "ct", "2000.0e0")} - 1000.0e0, 6) AS sigma2
    FROM (
      SELECT l_orderkey, l_linenumber, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    )
    """


@register("gsw_sigma1_sigma2", oracle=_sigma_oracle())
def gsw_sigma1_sigma2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential density anomalies referenced to 1000 and 2000 dbar from
    the 75-term TEOS-10 polynomial (the density surfaces intermediate-
    and deep-water analysis is done on). Reuses the committed
    coefficient table — no new constants; CT materialized once so the
    75-term evaluation runs twice, not four times."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        ct_from_t_sql,
        rho_sql,
    )

    df = _inputs(spark, sf_dir)
    staged = df.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.expr(rho_sql("sa", "ct", "1000.0e0")) - 1000.0, 6).alias("sigma1"),
        F.round(F.expr(rho_sql("sa", "ct", "2000.0e0")) - 1000.0, 6).alias("sigma2"),
    )


# ---------------------------------------------------------------------------
# Window value functions: first/last/nth over explicit frames — the one
# window family (rank/lag-lead/range-frame/percent already ship) without
# a registered query.
# ---------------------------------------------------------------------------
@register(
    "window_value_functions",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(CAST(o_totalprice AS DOUBLE)) OVER w AS first_price,
           last_value(CAST(o_totalprice AS DOUBLE)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_price,
           nth_value(CAST(o_totalprice AS DOUBLE), 2) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_price
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with explicit frames and a
    deterministic (date, key) ordering. last/nth use the full-partition
    frame (the default RANGE..CURRENT ROW frame would make last_value a
    no-op and nth_value order-dependent)."""
    orders = _t(spark, sf_dir, "orders")
    order_cols = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    price = F.col("o_totalprice").cast("double")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first(price).over(w_run).alias("first_price"),
        F.last(price).over(w_full).alias("last_price"),
        F.nth_value(price, 2).over(w_full).alias("second_price"),
    )


# ---------------------------------------------------------------------------
# b-bit minhash (Li & Koenig 2010): keep only the lowest bit of each
# minhash value — signatures shrink 64x and similarity is estimated from
# the matching-bit fraction, corrected for the 1/2 random-collision
# floor: J_hat = 2*(match_frac - 1/2). Estimated ONLY on LSH candidate
# pairs (the full-width LSH stage is unchanged; the b-bit signatures are
# the storage/transfer optimization).
# ---------------------------------------------------------------------------
@register(
    "dedup_bbit_minhash",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_LSH_CAND_CTES},
    bits AS (
      SELECT doc_id,
             (instr('13579bdf', substr(h1, 8, 1)) > 0)::INT AS b0,
             (instr('13579bdf', substr(h2, 8, 1)) > 0)::INT AS b1,
             (instr('13579bdf', substr(h3, 8, 1)) > 0)::INT AS b2,
             (instr('13579bdf', substr(h4, 8, 1)) > 0)::INT AS b3,
             (instr('13579bdf', substr(h5, 8, 1)) > 0)::INT AS b4,
             (instr('13579bdf', substr(h6, 8, 1)) > 0)::INT AS b5,
             (instr('13579bdf', substr(h7, 8, 1)) > 0)::INT AS b6,
             (instr('13579bdf', substr(h8, 8, 1)) > 0)::INT AS b7
      FROM sig
    )
    SELECT doc_a, doc_b,
           CAST((x.b0 = y.b0)::INT + (x.b1 = y.b1)::INT + (x.b2 = y.b2)::INT
              + (x.b3 = y.b3)::INT + (x.b4 = y.b4)::INT + (x.b5 = y.b5)::INT
              + (x.b6 = y.b6)::INT + (x.b7 = y.b7)::INT AS BIGINT) AS n_match,
           round(2.0 * (((x.b0 = y.b0)::INT + (x.b1 = y.b1)::INT
              + (x.b2 = y.b2)::INT + (x.b3 = y.b3)::INT + (x.b4 = y.b4)::INT
              + (x.b5 = y.b5)::INT + (x.b6 = y.b6)::INT + (x.b7 = y.b7)::INT)
              / 8.0 - 0.5), 4) AS jaccard_bbit
    FROM cand JOIN bits x ON x.doc_id = cand.doc_a
              JOIN bits y ON y.doc_id = cand.doc_b
    """,
)
def dedup_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit minhash similarity over the standard guarded LSH candidate
    pairs: per doc, 8 md5 minhashes collapse to 8 parity bits (lowest
    hex digit odd). J_hat = 2*(match/8 - 1/2) — unbiased for the
    random-permutation model; at scale the win is signature storage
    (1 bit vs 128 per hash) for the confirm stage's shuffle. Candidate
    generation is the SHARED shingle/minhash/LSH chain (the round-4
    private copy was hoisted at activation per the staging plan)."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
    )

    sh = distinct_shingles(spark, sf_dir)
    sig = minhash_signature(sh, "doc_id", "s", num_hashes=8)
    odd = list("13579bdf")
    bit_cols = [
        F.substring(F.col(f"h{i+1}"), 8, 1).isin(odd).cast("int").alias(f"b{i}")
        for i in range(8)
    ]
    bits = sig.select("doc_id", *bit_cols)
    bk = lsh_band_buckets(sig, "doc_id", num_hashes=8, bands=4)
    cand = lsh_candidate_pairs(bk, "doc_id", max_bucket_size=50)
    x = bits.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"b{i}").alias(f"xa{i}") for i in range(8)]
    )
    y = bits.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"b{i}").alias(f"yb{i}") for i in range(8)]
    )
    n_match = sum(
        (F.col(f"xa{i}") == F.col(f"yb{i}")).cast("int") for i in range(8)
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.cast("long").alias("n_match"),
            F.round(2.0 * (n_match / 8.0 - 0.5), 4).alias("jaccard_bbit"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility: BPE-ish tokens per whitespace word, per language —
# the standard multilingual-tokenizer-quality metric (fertility >> 1
# means the vocabulary underserves that language).
# ---------------------------------------------------------------------------
@register(
    "tokenizer_fertility",
    oracle=r"""
    SELECT lang,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
             AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')))
             AS BIGINT) AS bpe_tokens,
           floor(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')))
                 * 1.0e6 / sum(len(string_split_regex(trim(text), '\s+')))
                 + 0.5) / 1.0e6 AS fertility
    FROM documents
    GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level fertility per language from exact integer token
    sums (one map-side-combinable agg, lang-keyed — bounded groups);
    the ratio is a single rounded division of two BIGINTs so both
    engines divide identical integers."""
    from cioos_siooc_data_transform_spark.operators.text import token_counts

    docs = _t(spark, sf_dir, "documents")
    ws, bpe = token_counts(F.col("text"))
    per_doc = docs.select("lang", ws.alias("ws"), bpe.alias("bpe"))
    agg = per_doc.groupBy("lang").agg(
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
    )
    return agg.select(
        "lang",
        "ws_tokens",
        "bpe_tokens",
        (
            F.floor(F.col("bpe_tokens") * 1.0e6 / F.col("ws_tokens") + 0.5) / 1.0e6
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Stopword density: fraction of words drawn from a fixed function-word
# list — a Gopher-family quality signal (too-low density = word salad /
# boilerplate, too-high = template filler).
# ---------------------------------------------------------------------------
_STOPWORDS = ["a", "the", "and", "of", "to", "in"]


@register(
    "text_stopword_density",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(list_filter(words,
                x -> list_contains({_STOPWORDS!r}, x))) AS BIGINT) AS n_stop,
           floor(len(list_filter(words,
                x -> list_contains({_STOPWORDS!r}, x)))
                 * 1.0e6 / len(words) + 0.5) / 1.0e6 AS stop_density
    FROM w WHERE len(words) > 0
    """,
)
def text_stopword_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer stopword counting in codegen (filter over the split
    array against a 6-word literal list); density = one rounded
    division of exact integers. Zero shuffle."""
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    from cioos_siooc_data_transform_spark.operators.text import (
        stopword_occurrences,
    )

    docs = _t(spark, sf_dir, "documents")
    words = words_expr(F.col("text"))
    n_words = F.size(words)
    n_stop = stopword_occurrences(words, _STOPWORDS)
    return (
        docs.select(
            "doc_id",
            "lang",
            n_words.cast("long").alias("n_words"),
            n_stop.cast("long").alias("n_stop"),
            (F.floor(n_stop * 1.0e6 / n_words + 0.5) / 1.0e6).alias("stop_density"),
        )
        .filter(F.col("n_words") > 0)
    )


# ---------------------------------------------------------------------------
# Session duration / size stats: the session-level rollup over the
# sessionize_gap assignment (30-minute idle timeout).
# ---------------------------------------------------------------------------
@register(
    "session_duration_stats",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch(ts) AS es FROM events
    ), marked AS (
      SELECT user_id, event_id, es,
             CASE WHEN es - lag(es) OVER w > 1800.0 OR lag(es) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ), numbered AS (
      SELECT user_id, es,
             CAST(sum(is_start) OVER (
               PARTITION BY user_id ORDER BY es, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_no
      FROM marked
    )
    SELECT user_id, session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           floor((max(es) - min(es)) * 1000.0 + 0.5) / 1000.0 AS duration_s
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def session_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level rollup (event count + wall duration) on top of the
    gap-based sessionizer: one window pass to number sessions, one
    map-side-combinable agg keyed by (user, session) — the engagement
    base table behind DAU/stickiness metrics. Duration is an exact
    integer second delta (epoch truncation identical on both engines)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("double").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    prev = F.lag("es").over(w)
    is_start = ((F.col("es") - prev > 1800.0) | prev.isNull()).cast("int")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = ev.select(
        "user_id",
        "es",
        F.sum(is_start).over(w_run).cast("long").alias("session_no"),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (
            F.floor((F.max("es") - F.min("es")) * 1000.0 + 0.5) / 1000.0
        ).alias("duration_s"),
    )


# ---------------------------------------------------------------------------
# Funnel conversion rates: step-to-step conversion over the funnel-stage
# user sets (the ratio layer on top of funnel_stages' absolute counts).
# ---------------------------------------------------------------------------
_FUNNEL = ["view", "click", "purchase"]


@register(
    "funnel_conversion_rates",
    oracle="""
    WITH reached AS (
      SELECT 0 AS step, 'view' AS stage, count(DISTINCT user_id) AS n
      FROM events WHERE event_type = 'view'
      UNION ALL
      SELECT 1, 'click', count(DISTINCT a.user_id)
      FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') a
      JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') b
        ON a.user_id = b.user_id
      UNION ALL
      SELECT 2, 'purchase', count(DISTINCT a.user_id)
      FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') a
      JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') b
        ON a.user_id = b.user_id
      JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') c
        ON a.user_id = c.user_id
    )
    SELECT step, stage, CAST(n AS BIGINT) AS n_users,
           CASE WHEN first_value(n) OVER (ORDER BY step) > 0 THEN
             floor(n * 1.0e6 / first_value(n) OVER (ORDER BY step) + 0.5) / 1.0e6
           ELSE NULL END AS conv_from_top,
           CASE WHEN lag(n, 1, n) OVER (ORDER BY step) > 0 THEN
             floor(n * 1.0e6 / lag(n, 1, n) OVER (ORDER BY step) + 0.5) / 1.0e6
           ELSE NULL END AS conv_from_prev
    FROM reached
    """,
)
def funnel_conversion_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-membership funnel (a user counts at step k only having
    hit ALL prior stages) with top-of-funnel and step-over-step
    conversion ratios — exact integer distinct-counts, ratios as one
    rounded division. The per-stage distinct sets are semi-join
    reductions; the 3-row ratio window is driver-trivial."""
    events = _t(spark, sf_dir, "events")
    sets = [
        events.filter(F.col("event_type") == s)
        .select("user_id")
        .distinct()
        for s in _FUNNEL
    ]
    cum = sets[0]
    rows = []
    spark_counts = []
    for i, s in enumerate(_FUNNEL):
        if i > 0:
            cum = cum.join(sets[i], "user_id")
        spark_counts.append(
            cum.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
                F.lit(i).cast("int").alias("step"),
                F.lit(s).alias("stage"),
                F.col("n").alias("n_users"),
            )
        )
    reached = spark_counts[0]
    for df in spark_counts[1:]:
        reached = reached.unionByName(df)
    w = Window.orderBy("step")
    top = F.first("n_users").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag("n_users", 1, None).over(w)
    prev_or_self = F.coalesce(prev, F.col("n_users"))
    return reached.select(
        "step",
        "stage",
        "n_users",
        F.when(
            top > 0, F.floor(F.col("n_users") * 1.0e6 / top + 0.5) / 1.0e6
        ).alias("conv_from_top"),
        F.when(
            prev_or_self > 0,
            F.floor(F.col("n_users") * 1.0e6 / prev_or_self + 0.5) / 1.0e6,
        ).alias("conv_from_prev"),
    )


# ===========================================================================
# Staged wave 2
# ===========================================================================

# ---------------------------------------------------------------------------
# Potential density sigma_theta: EOS-80 surface density evaluated at the
# Bryden potential temperature — the classic (pre-TEOS-10) watermass
# coordinate; composes two committed formula blocks, no new constants.
# ---------------------------------------------------------------------------
def _sigma_theta_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import pt0_from_t_sql

    theta = pt0_from_t_sql("s", "t", "p")
    return f"""
    SELECT l_orderkey, l_linenumber,
           round({_rho0_sql("s", "theta")} - 1000.0e0, 6) AS sigma_theta
    FROM (
      SELECT l_orderkey, l_linenumber, s, {theta} AS theta
      FROM ({_IN_SQL})
    )
    """


@register("gsw_potential_density_theta", oracle=_sigma_theta_oracle())
def gsw_potential_density_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sigma_theta = rho_EOS80(S, theta, 0) - 1000: surface-referenced
    potential density through the Bryden theta polynomial. theta is
    materialized as a column first so both engines evaluate the
    polynomial once per row."""
    from cioos_siooc_data_transform_spark.functions.teos10 import pt0_from_t_sql

    df = _inputs(spark, sf_dir)
    staged = df.select(
        "l_orderkey",
        "l_linenumber",
        "s",
        F.expr(pt0_from_t_sql("s", "t", "p")).alias("theta"),
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.expr(_rho0_sql("s", "theta")) - 1000.0, 6).alias("sigma_theta"),
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering (the FineWeb-Edu / quality-classifier
# shape): a literal logistic-regression over cheap per-doc features.
# The weights are fixed constants — the point is the OPERATOR (batch
# scoring of every document with a linear model in pure codegen, then a
# threshold gate), not the model fit.
# ---------------------------------------------------------------------------
_LR_W = {"bias": -1.5, "chars": 0.004, "stop": 3.0, "fert": -0.8}


@register(
    "quality_classifier_logreg",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(n_chars AS DOUBLE) AS n_chars,
             len(list_filter(string_split(text, ' '),
                 x -> list_contains({_STOPWORDS!r}, x)))
               * 1.0 / len(string_split(text, ' ')) AS stop_density,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
               * 1.0 / len(string_split_regex(trim(text), '\\s+')) AS fertility
      FROM documents WHERE len(string_split(text, ' ')) > 0
    )
    SELECT doc_id,
           floor(1.0 / (1.0 + exp(-({_LR_W['bias']}
                 + {_LR_W['chars']} * n_chars
                 + {_LR_W['stop']} * stop_density
                 + {_LR_W['fert']} * fertility))) * 1.0e6 + 0.5) / 1.0e6
             AS quality_score,
           (floor(1.0 / (1.0 + exp(-({_LR_W['bias']}
                 + {_LR_W['chars']} * n_chars
                 + {_LR_W['stop']} * stop_density
                 + {_LR_W['fert']} * fertility))) * 1.0e6 + 0.5) / 1.0e6
             >= 0.5) AS keep
    FROM feats
    """,
)
def quality_classifier_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch inference of a literal logistic model over per-doc features
    (chars, stopword density, tokenizer fertility) with a keep/drop
    gate. All-codegen scoring, zero shuffle; the keep decision is made
    on the 6-dp-rounded score on BOTH engines so the boundary is
    canonicalized (same discipline as robust_zscore_outliers). At scale
    this is the shape of every model-based quality filter: features
    row-local, weights broadcast (here folded as literals)."""
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr
    from cioos_siooc_data_transform_spark.operators.text import token_counts

    docs = _t(spark, sf_dir, "documents")
    words = words_expr(F.col("text"))
    from cioos_siooc_data_transform_spark.operators.text import (
        stopword_occurrences,
    )

    n_words = F.size(words)
    ws, bpe = token_counts(F.col("text"))
    stop_density = stopword_occurrences(words, _STOPWORDS) * 1.0 / n_words
    fertility = bpe * 1.0 / ws
    z = (
        F.lit(_LR_W["bias"])
        + _LR_W["chars"] * F.col("n_chars").cast("double")
        + _LR_W["stop"] * stop_density
        + _LR_W["fert"] * fertility
    )
    score = F.floor(1.0 / (1.0 + F.exp(-z)) * 1.0e6 + 0.5) / 1.0e6
    return (
        docs.filter(n_words > 0)
        .select(
            "doc_id",
            score.alias("quality_score"),
            (score >= 0.5).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# kNN label accuracy over embeddings: for each probe vector, the
# majority label of its 5 nearest neighbors vs its own label — the
# standard embedding-space sanity eval (a collapsed or shuffled
# embedding fails it immediately).
# ---------------------------------------------------------------------------
@register(
    "embedding_knn_label_accuracy",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS true_label
               FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings),
    nn AS (
      SELECT query_id, true_label, neighbor_id, label FROM (
        SELECT q.query_id, q.true_label, c.neighbor_id, c.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_cosine_similarity(q.qv, c.cv), 4) DESC,
                          c.neighbor_id ASC
               ) AS rank
        FROM q, c WHERE c.neighbor_id != q.query_id
      ) WHERE rank <= 5
    ),
    votes AS (
      SELECT query_id, true_label, label, count(*) AS n
      FROM nn GROUP BY query_id, true_label, label
    ),
    top AS (
      SELECT query_id, true_label, label AS pred_label FROM (
        SELECT query_id, true_label, label,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY n DESC, label ASC
               ) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT query_id, true_label, pred_label,
           (pred_label = true_label) AS correct
    FROM top
    """,
)
def embedding_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote label prediction for the first 50 vectors
    (probe set broadcast, corpus streams once — brute-force arm; swap in
    the IVF/LSH index for the 100 TB path). Majority with
    smallest-label tiebreak; cosine rounded to 4 dp with id tiebreak so
    the neighbor set is engine-stable."""
    emb = _t(spark, sf_dir, "embeddings")
    from cioos_siooc_data_transform_spark.operators.similarity import (
        brute_force_topk,
    )

    probes = emb.filter(F.col("vec_id") < 50)
    nn = brute_force_topk(probes, emb, k=5, round_dp=4).select(
        "query_id", "neighbor_id"
    )
    lbl = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    qlbl = probes.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    votes = (
        nn.join(lbl, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    top = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )
    return (
        top.join(F.broadcast(qlbl), "query_id")
        .select(
            "query_id",
            "true_label",
            "pred_label",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# N-gram novelty: the fraction of a document's shingles that appear for
# the FIRST time in the corpus (by doc_id order) — the curation metric
# behind "how much new content does this source add".
# ---------------------------------------------------------------------------
@register(
    "ngram_novelty_score",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(words) - 2, 0)),
                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS s
        FROM w
      )
    ),
    first_seen AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           floor(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 * 1.0e6 / count(*) + 0.5) / 1.0e6 AS novelty
    FROM sh JOIN first_seen f ON f.s = sh.s
    GROUP BY sh.doc_id
    """,
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty = |shingles first seen in this doc| / |shingles|.
    Two shuffles: the (shingle -> min doc) agg — map-side combinable,
    hot shingles collapse before the wire — and the per-doc count join;
    never a pairwise comparison. Exact integers, one rounded division."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(words_expr(F.col("text")), 3))
        ).alias("s"),
    ).distinct()
    first_seen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(first_seen, "s")
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        novel.cast("long").alias("n_novel"),
        (F.floor(novel * 1.0e6 / F.count(F.lit(1)) + 0.5) / 1.0e6).alias(
            "novelty"
        ),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between two table versions): classify keys as
# deleted / changed / unchanged / added and report exact integer-cent
# price deltas — the maintenance op behind incremental republishing.
# ---------------------------------------------------------------------------
@register(
    "snapshot_diff_cdc",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), nw AS (
      SELECT o_orderkey AS k,
             CAST(floor(
               (o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 50.0 ELSE 0.0 END)
               * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 13 != 0
      UNION ALL
      SELECT -o_orderkey,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
      FROM orders WHERE o_orderkey % 17 = 0
    ), classified AS (
      SELECT
        CASE
          WHEN b.k IS NULL THEN 'added'
          WHEN n.k IS NULL THEN 'deleted'
          WHEN b.cents != n.cents THEN 'changed'
          ELSE 'unchanged'
        END AS change_type,
        COALESCE(n.cents, 0) - COALESCE(b.cents, 0) AS delta_cents
      FROM base b FULL OUTER JOIN nw n ON b.k = n.k
    )
    SELECT change_type,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(delta_cents) AS BIGINT) AS total_delta_cents
    FROM classified
    GROUP BY change_type
    """,
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer key reconciliation of two deterministic snapshot
    versions (mod-13 deletes, mod-7 price changes, mod-17 adds under
    negated keys) with integer-cent deltas. One shuffle on the (uniform)
    primary key; change classification is row-local. The summary agg
    keeps the output bounded (4 rows) — the per-key stream is the same
    plan minus the final groupBy."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    base = orders.select(F.col("o_orderkey").alias("k"), cents.alias("cents"))
    changed_price = F.col("o_totalprice") + F.when(
        F.col("o_orderkey") % 7 == 0, 50.0
    ).otherwise(0.0)
    nw = (
        orders.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.floor(changed_price * 100.0 + 0.5).cast("long").alias("cents"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 17 == 0).select(
                (-F.col("o_orderkey")).alias("k"), cents.alias("cents")
            )
        )
    )
    j = base.alias("b").join(
        nw.alias("n"), F.col("b.k") == F.col("n.k"), "full_outer"
    )
    change_type = (
        F.when(F.col("b.k").isNull(), "added")
        .when(F.col("n.k").isNull(), "deleted")
        .when(F.col("b.cents") != F.col("n.cents"), "changed")
        .otherwise("unchanged")
    )
    delta = F.coalesce(F.col("n.cents"), F.lit(0)) - F.coalesce(
        F.col("b.cents"), F.lit(0)
    )
    return (
        j.select(change_type.alias("change_type"), delta.alias("delta_cents"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("delta_cents").cast("long").alias("total_delta_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Time-interval RANGE frame: trailing 1-hour activity per user — the
# window surface the numeric range-frame query doesn't cover (frame
# bounds in INTERVAL units over a timestamp ordering).
# ---------------------------------------------------------------------------
@register(
    "window_time_interval_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) OVER w
                AS BIGINT) AS value_micros_last_hour
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts
      RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
    )
    """,
)
def window_time_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour event count and (integer-micro-quantized) value sum
    per user via a RANGE BETWEEN INTERVAL frame — expressed in SQL on
    both engines. The value sum is quantized BEFORE the frame sum so
    the windowed aggregation is integer-exact regardless of each
    engine's frame-evaluation order. NOTE: ties in ts share a RANGE
    frame by definition, so same-ts rows get identical results — no
    tiebreak needed for determinism."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_staged_events")
    return ev.sparkSession.sql(
        """
        SELECT event_id, user_id,
               CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
               CAST(sum(CAST(floor(value * 1.0e6 + 0.5) AS BIGINT)) OVER w
                    AS BIGINT) AS value_micros_last_hour
        FROM _staged_events
        WINDOW w AS (
          PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW
        )
        """
    )


# ---------------------------------------------------------------------------
# GROUPING() / GROUPING_ID() flags: the introspection half of the
# grouping-sets family (which aggregation level produced this row) —
# what BI layers pivot on.
# ---------------------------------------------------------------------------
@register(
    "grouping_id_flags",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_id_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with GROUPING()/GROUPING_ID() markers — the flags
    that let a consumer tell a real NULL group from a rolled-up level.
    Same SQL text on both engines (the flag semantics are ANSI)."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_staged_orders")
    return orders.sparkSession.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
               CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM _staged_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ===========================================================================
# Staged wave 3
# ===========================================================================

# ---------------------------------------------------------------------------
# Bigram LM scoring: mean ln P(w_i | w_{i-1}) per document under the
# corpus's own bigram distribution — the context-aware upgrade of
# lm_unigram_logprob (CCNet-style perplexity filtering). Both frequency
# tables are vocabulary-bounded and broadcast; the corpus never
# shuffles on a token key.
# ---------------------------------------------------------------------------
@register(
    "lm_bigram_logprob",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                    i -> words[i] || ' ' || words[i+1])) AS b
      FROM w
    ),
    bfreq AS (SELECT b, CAST(count(*) AS DOUBLE) AS cb FROM bg GROUP BY b),
    cfreq AS (
      SELECT split_part(b, ' ', 1) AS wctx, sum(cb) AS cc
      FROM bfreq GROUP BY 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(sum(ln(cb / cc)) / count(*) * 1e6 + 0.5) / 1e6 AS avg_logprob
    FROM bg
    JOIN bfreq USING (b)
    JOIN cfreq ON split_part(b, ' ', 1) = cfreq.wctx
    GROUP BY doc_id
    """,
)
def lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(w_i | w_{i-1}) = c(bigram) / c(context); docs shorter than two
    words have no bigrams and drop out (inner-join semantics, identical
    on both engines). Context counts derive from the bigram table (sum
    over first word) so the two tables are consistent by construction."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id",
        F.explode(word_shingles(words_expr(F.col("text")), 2)).alias("b"),
    )
    bfreq = bg.groupBy("b").agg(F.count(F.lit(1)).cast("double").alias("cb"))
    cfreq = bfreq.groupBy(
        F.split_part(F.col("b"), F.lit(" "), F.lit(1)).alias("wctx")
    ).agg(F.sum("cb").alias("cc"))
    joined = bg.join(F.broadcast(bfreq), "b").join(
        F.broadcast(cfreq),
        F.split_part(F.col("b"), F.lit(" "), F.lit(1)) == F.col("wctx"),
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (
            F.floor(
                F.sum(F.log(F.col("cb") / F.col("cc"))) / F.count(F.lit(1)) * 1e6
                + 0.5
            )
            / 1e6
        ).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# Per-source dedup survivorship report: the ops dashboard behind every
# dedup pipeline (which sources are mostly copies?).
# ---------------------------------------------------------------------------
@register(
    "dedup_source_survivorship",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           floor((count(*) - count(DISTINCT md5(text))) * 1.0e6 / count(*)
                 + 0.5) / 1.0e6 AS dup_rate
    FROM documents
    GROUP BY source
    """,
)
def dedup_source_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source duplicate rate via digest distinct-count — one
    shuffle keyed by (source, digest) under the hood; source cardinality
    is bounded so the final agg is tiny."""
    docs = _t(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    u = F.countDistinct(F.md5(F.col("text")))
    return docs.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        u.cast("long").alias("n_unique"),
        (F.floor((n - u) * 1.0e6 / n + 0.5) / 1.0e6).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Nearest as-of join with tolerance (pandas merge_asof
# direction='nearest' parity): each purchase matches its nearest click
# by the same user within +/-900 s, backward preferred on exact
# distance ties. Union + two windows — no range-pair explosion.
# ---------------------------------------------------------------------------
@register(
    "asof_nearest_tolerance",
    oracle="""
    WITH u AS (
      SELECT user_id, event_id, epoch(ts) AS es, 0 AS rt
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, event_id, epoch(ts) AS es, 1 AS rt
      FROM events WHERE event_type = 'click'
    ), scanned AS (
      SELECT user_id, event_id, es, rt,
             last_value(CASE WHEN rt = 1 THEN event_id END IGNORE NULLS) OVER wb AS b_id,
             last_value(CASE WHEN rt = 1 THEN es END IGNORE NULLS) OVER wb AS b_es,
             first_value(CASE WHEN rt = 1 THEN event_id END IGNORE NULLS) OVER wf AS f_id,
             first_value(CASE WHEN rt = 1 THEN es END IGNORE NULLS) OVER wf AS f_es
      FROM u
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY es ASC, rt DESC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY es ASC, rt DESC, event_id ASC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id,
           CASE
             WHEN b_es IS NOT NULL AND es - b_es <= 900.0
                  AND (f_es IS NULL OR f_es - es > 900.0
                       OR es - b_es <= f_es - es) THEN b_id
             WHEN f_es IS NOT NULL AND f_es - es <= 900.0 THEN f_id
             ELSE NULL
           END AS matched_click_id,
           CASE
             WHEN b_es IS NOT NULL AND es - b_es <= 900.0
                  AND (f_es IS NULL OR f_es - es > 900.0
                       OR es - b_es <= f_es - es)
               THEN CAST(floor((es - b_es) * 1000.0 + 0.5) AS BIGINT)
             WHEN f_es IS NOT NULL AND f_es - es <= 900.0
               THEN CAST(floor((f_es - es) * 1000.0 + 0.5) AS BIGINT)
             ELSE NULL
           END AS dt_ms
    FROM scanned WHERE rt = 0
    """,
)
def asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-within-tolerance as-of: tag both sides, ONE shuffle on
    user_id, a backward scan (last click at-or-before) and a forward
    scan (first click at-or-after) over the same sort, then a row-local
    nearest/tolerance decision. Clicks sort before purchases at equal
    timestamps (rt DESC) so a simultaneous click is eligible for the
    backward match — and the backward arm wins exact-distance ties,
    matching pandas merge_asof(direction='nearest')."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("ts").cast("double").alias("es"),
        F.lit(0).alias("rt"),
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.col("ts").cast("double").alias("es"),
        F.lit(1).alias("rt"),
    )
    u = left.unionByName(right)
    order = [F.col("es").asc(), F.col("rt").desc(), F.col("event_id").asc()]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    r_id = F.when(F.col("rt") == 1, F.col("event_id"))
    r_es = F.when(F.col("rt") == 1, F.col("es"))
    scanned = u.select(
        "event_id",
        "es",
        "rt",
        F.last(r_id, ignorenulls=True).over(wb).alias("b_id"),
        F.last(r_es, ignorenulls=True).over(wb).alias("b_es"),
        F.first(r_id, ignorenulls=True).over(wf).alias("f_id"),
        F.first(r_es, ignorenulls=True).over(wf).alias("f_es"),
    ).filter(F.col("rt") == 0)
    b_ok = F.col("b_es").isNotNull() & (F.col("es") - F.col("b_es") <= 900.0)
    f_ok = F.col("f_es").isNotNull() & (F.col("f_es") - F.col("es") <= 900.0)
    prefer_b = b_ok & (
        ~f_ok | (F.col("es") - F.col("b_es") <= F.col("f_es") - F.col("es"))
    )
    dt_b = F.floor((F.col("es") - F.col("b_es")) * 1000.0 + 0.5).cast("long")
    dt_f = F.floor((F.col("f_es") - F.col("es")) * 1000.0 + 0.5).cast("long")
    return scanned.select(
        "event_id",
        F.when(prefer_b, F.col("b_id"))
        .when(f_ok, F.col("f_id"))
        .otherwise(F.lit(None))
        .alias("matched_click_id"),
        F.when(prefer_b, dt_b).when(f_ok, dt_f).otherwise(F.lit(None)).alias(
            "dt_ms"
        ),
    )


# ---------------------------------------------------------------------------
# Fixed-iteration PageRank over the co-purchase graph, in EXACT integer
# arithmetic: scores live in 1e-12 units (BIGINT); per-edge contribution
# is integer division by out-degree; the damping and teleport terms are
# integer multiply-then-divide. Every operation is order-independent,
# so a recursive-CTE oracle reproduces the Spark loop bit-for-bit —
# the same determinism discipline as dedup_components, extended to a
# numeric iterative algorithm.
# ---------------------------------------------------------------------------
_PR_ITERS = 3
_PR_UNIT = 1_000_000_000_000  # 1e12 score units


def _pagerank_oracle() -> str:
    base = f"""
    items AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS pk FROM lineitem
    ), pairs AS (
      SELECT a.pk AS pa, b.pk AS pb
      FROM items a JOIN items b ON a.k = b.k AND a.pk < b.pk
    ), und AS (
      SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
    ), edges AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb, pa FROM und
    ), deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg
    ), it0 AS (
      SELECT src AS node, {_PR_UNIT} // n.n_nodes AS score FROM deg, n
    )"""
    its = []
    for i in range(1, _PR_ITERS + 1):
        its.append(f""", it{i} AS (
      SELECT d.src AS node,
             (15 * ({_PR_UNIT} // n.n_nodes)) // 100
             + (85 * COALESCE(x.inc, 0)) // 100 AS score
      FROM deg d
      CROSS JOIN n
      LEFT JOIN (
        SELECT e.dst, sum(s.score // dg.outdeg) AS inc
        FROM it{i-1} s
        JOIN deg dg ON dg.src = s.node
        JOIN edges e ON e.src = s.node
        GROUP BY e.dst
      ) x ON x.dst = d.src
    )""")
    return (
        "WITH " + base + "".join(its)
        + f"""
    SELECT node AS part_key, CAST(score AS BIGINT) AS pagerank_picos
    FROM it{_PR_ITERS}
    """
    )


@register("graph_pagerank_iterations", oracle=_pagerank_oracle())
def graph_pagerank_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{iters}-iteration PageRank (d=0.85) on the support->=2
    co-purchase graph. Integer 1e-12-unit scores make the iteration
    engine-exact: contribution = score // outdeg, update =
    (15*(U//N))//100 + (85*sum)//100 — no float summation anywhere, so
    neither engine's aggregation order matters. The UNDIRECTED pair
    set (half the post-union edge volume) is checkpointed EAGERLY
    before the loop — the GraphX idiom, and the measured winner of the
    round-12 lineage-idiom sweep at 25M edges (tools/
    skew_stress_results.json: eager-und 39.3 s vs full edge+degree
    checkpoint 58.2 s vs no checkpoint 43.1 s vs per-3-iteration score
    cadence 72.0 s; lazy variants lose to concurrent AQE stages each
    computing the unmaterialized RDD, score-cadence loses cross-
    segment exchange reuse). Each round is one (uniform-key) shuffle:
    contributions aggregate by target. Driver holds only the loop
    counter — no per-round actions. At 100 TB the same loop runs with
    the degree table bucketed and AQE skew-splitting hub nodes."""
    li = _t(spark, sf_dir, "lineitem")
    # Round-14: edge derivation via the shared collect_set
    # pair-generation operator (one exchange + in-array pair explode,
    # no distinct+self-join — operators/graphs.py::
    # copurchase_pair_support); the derivation was ~70% of this
    # query's wall in the round-14 decomposition.
    und = (
        copurchase_pair_support(li.select("l_orderkey", "l_partkey"))
        .filter(F.col("support") >= 2)
        .select("pa", "pb")
    )
    und = checkpoint_df(und, eager=True)
    edges = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
    # Round-13 (optimization): checkpoint deg too — |V| rows, negligible
    # memory next to the und checkpoint — so the n_nodes count below
    # reads materialized data and the FINAL action no longer re-derives
    # the degree aggregate from 2×|und| edge rows (the count's work was
    # thrown away and recomputed). Additive to the round-12 XL-measured
    # und idiom (that sweep's "full" mode checkpointed the fat post-
    # union EDGE set instead of und — a different, losing shape; this
    # keeps und and materializes only the node-sized aggregate).
    # Bit-identical (exceptAll both ways = 0 at sf0.1); isolated A/B
    # min 3.27 → 2.63 s, median 3.49 → 3.03 s (idle host, min-of-5).
    deg = checkpoint_df(deg, eager=True)
    n_nodes = deg.count()  # scalar: node count (bounded driver value)
    if n_nodes == 0:
        # empty support->=2 graph: the oracle yields an empty result
        return spark.createDataFrame(
            [], "part_key LONG, pagerank_picos LONG"
        )
    init = _PR_UNIT // n_nodes
    teleport = (15 * init) // 100
    # round-13: the score relation CARRIES outdeg across iterations, so
    # each round is one edges join + one agg + one left join — the
    # separate score x deg join (and its per-iteration re-derivation of
    # the degree aggregate from the checkpointed RDD) is gone: 2 joins
    # per iteration instead of 3, and the update's node base is the
    # score relation itself (same keys as deg by construction). Exact
    # integer arithmetic unchanged — results bit-identical (exceptAll
    # both ways = 0 at sf0.1; isolated A/B 2.96 -> 2.74 s).
    score = deg.select(
        F.col("src").alias("node"), "outdeg", F.lit(init).alias("score")
    )
    edges_r = edges.select(F.col("src").alias("esrc"), F.col("dst").alias("edst"))
    for _ in range(_PR_ITERS):
        contrib = (
            score.join(edges_r, score["node"] == edges_r["esrc"])
            .select(
                F.col("edst").alias("node"),
                F.expr("score DIV outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("incoming"))
        )
        score = (
            score.select("node", "outdeg")
            .join(contrib, "node", "left")
            .select(
                "node",
                "outdeg",
                (
                    F.lit(teleport)
                    + F.expr("85 * coalesce(incoming, 0) DIV 100")
                ).alias("score"),
            )
        )
    return score.select(
        F.col("node").alias("part_key"), F.col("score").cast("long").alias("pagerank_picos")
    )


# ===========================================================================
# Staged wave 4
# ===========================================================================

# ---------------------------------------------------------------------------
# Point-in-time lookup over an SCD2 history — the feature-store
# correctness primitive (training labels must join the feature version
# valid AT the observation time, not the latest one).
# ---------------------------------------------------------------------------
# the last probe lies beyond every order date, so it exercises the
# open-ended FINAL version of every multi-version key (the case the
# per-field IGNORE NULLS formulation silently dropped)
_PIT_PROBES = ["1994-06-01", "1997-01-01", "2005-06-01"]


@register(
    "scd2_point_in_time_lookup",
    oracle=f"""
    WITH hist AS (
      SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS total,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS valid_to
      FROM orders
    ),
    probes AS (
      SELECT DISTINCT o_custkey,
             unnest([DATE '{_PIT_PROBES[0]}', DATE '{_PIT_PROBES[1]}',
                     DATE '{_PIT_PROBES[2]}']) AS probe_date
      FROM orders
    ),
    u AS (
      SELECT o_custkey, CAST(NULL AS BIGINT) AS version_key,
             CAST(NULL AS DOUBLE) AS total,
             probe_date AS d, CAST(NULL AS DATE) AS valid_to, 0 AS rt,
             CAST(NULL AS BIGINT) AS tiebreak
      FROM probes
      UNION ALL
      SELECT o_custkey, o_orderkey, total, valid_from, valid_to, 1, o_orderkey
      FROM hist
    ),
    scanned AS (
      SELECT o_custkey, d, rt,
             last_value(CASE WHEN rt = 1
                             THEN {{'k': version_key, 't': total, 'vt': valid_to}}
                        END IGNORE NULLS) OVER w AS v
      FROM u
      WINDOW w AS (
        PARTITION BY o_custkey
        ORDER BY d ASC, rt DESC, tiebreak ASC NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      )
    )
    SELECT o_custkey, d AS probe_date, v['k'] AS version_key, v['t'] AS total
    FROM scanned
    WHERE rt = 0 AND v IS NOT NULL
      AND (v['vt'] IS NULL OR v['vt'] > d)
    """,
)
def scd2_point_in_time_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve each (customer, probe date) to the SCD2 version valid at
    that instant: union probes with versions, ONE shuffle on the
    business key, a backward IGNORE NULLS scan picks the last version
    starting at-or-before the probe, and a row-local validity filter
    drops probes outside any interval. Versions sort before probes at
    equal dates (rt DESC) so a version starting ON the probe date is
    picked — [valid_from, valid_to) semantics. NULLS LAST on the
    tiebreak keeps probe rows (NULL key) after the versions they tie
    with. This is the as-of union+window idiom applied to temporal
    versioning — no interval explosion, linear in probes + versions."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    hist = orders.select(
        "o_custkey",
        F.col("o_orderkey").alias("version_key"),
        F.col("o_totalprice").cast("double").alias("total"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    probes = (
        orders.select("o_custkey")
        .distinct()
        .select(
            "o_custkey",
            F.explode(
                F.array(*[F.lit(d).cast("date") for d in _PIT_PROBES])
            ).alias("probe_date"),
        )
    )
    u = probes.select(
        "o_custkey",
        F.lit(None).cast("long").alias("version_key"),
        F.lit(None).cast("double").alias("total"),
        F.col("probe_date").alias("d"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(0).alias("rt"),
        F.lit(None).cast("long").alias("tiebreak"),
    ).unionByName(
        hist.select(
            "o_custkey",
            "version_key",
            "total",
            F.col("valid_from").alias("d"),
            "valid_to",
            F.lit(1).alias("rt"),
            F.col("version_key").alias("tiebreak"),
        )
    )
    wb = (
        Window.partitionBy("o_custkey")
        .orderBy(
            F.col("d").asc(), F.col("rt").desc(), F.col("tiebreak").asc_nulls_last()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ONE struct per version row: all three fields must come from the
    # SAME version. Three separate IGNORE NULLS scans would skip the
    # current version's NULL valid_to and pair it with an EARLIER
    # version's end date, silently dropping every probe that falls in a
    # multi-version customer's open-ended final version.
    ver = F.when(
        F.col("rt") == 1,
        F.struct(
            F.col("version_key").alias("k"),
            F.col("total").alias("t"),
            F.col("valid_to").alias("vt"),
        ),
    )
    scanned = u.select(
        "o_custkey",
        "d",
        "rt",
        F.last(ver, ignorenulls=True).over(wb).alias("v"),
    )
    return (
        scanned.filter(
            (F.col("rt") == 0)
            & F.col("v").isNotNull()
            & (F.col("v.vt").isNull() | (F.col("v.vt") > F.col("d")))
        )
        .select(
            "o_custkey",
            F.col("d").alias("probe_date"),
            F.col("v.k").alias("version_key"),
            F.col("v.t").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Bag-of-words (multiset) Jaccard confirm: sum(min)/sum(max) over token
# COUNTS — near-dup scoring that sees repetition (templated docs with
# the same vocabulary but different repetition patterns score lower
# than set Jaccard suggests). Candidates come from the standard guarded
# LSH chain; only Σmin needs the pairwise join (Σmax derives from the
# per-doc totals: |A| + |B| − Σmin).
# ---------------------------------------------------------------------------
@register(
    "dedup_bag_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    {_LSH_CAND_CTES},
    tok AS (SELECT doc_id, unnest(words) AS t FROM w),
    tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
    totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
    inter AS (
      SELECT cand.doc_a, cand.doc_b,
             sum(least(ta.c, tb.c)) AS sum_min
      FROM cand
      JOIN tf ta ON ta.doc_id = cand.doc_a
      JOIN tf tb ON tb.doc_id = cand.doc_b AND tb.t = ta.t
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.sum_min AS BIGINT) AS sum_min,
           floor(i.sum_min * 1.0e6 / (na.n + nb.n - i.sum_min) + 0.5) / 1.0e6
             AS bag_jaccard
    FROM inter i
    JOIN totals na ON na.doc_id = i.doc_a
    JOIN totals nb ON nb.doc_id = i.doc_b
    """,
)
def dedup_bag_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset Jaccard over LSH candidates: Σmin via a per-pair token
    join (bounded by candidate count x doc length), Σmax computed from
    the per-doc totals without any extra pairwise work. Pairs sharing
    no token drop out (inner join) — identical on both engines. Exact
    integers everywhere; one rounded division. Candidate generation is
    the SHARED shingle/minhash/LSH chain (round-4 private copy hoisted
    at activation)."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    sh = distinct_shingles(spark, sf_dir)
    sig = minhash_signature(sh, "doc_id", "s", num_hashes=8, hash_family="md5")
    buckets = lsh_band_buckets(sig, "doc_id", num_hashes=8, bands=4)
    cand = lsh_candidate_pairs(buckets, "doc_id", max_bucket_size=50)
    tok = docs.select("doc_id", F.explode(words_expr(F.col("text"))).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    totals = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ta = tf.select(
        F.col("doc_id").alias("doc_a"), F.col("t").alias("t"), F.col("c").alias("ca")
    )
    tb = tf.select(
        F.col("doc_id").alias("tb_doc"), F.col("t").alias("tb_t"), F.col("c").alias("cb")
    )
    inter = (
        cand.join(ta, "doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("tb_doc")) & (F.col("t") == F.col("tb_t")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least(F.col("ca"), F.col("cb"))).alias("sum_min"))
    )
    na = totals.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = totals.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("sum_min").cast("long").alias("sum_min"),
            (
                F.floor(
                    F.col("sum_min") * 1.0e6
                    / (F.col("na") + F.col("nb") - F.col("sum_min"))
                    + 0.5
                )
                / 1.0e6
            ).alias("bag_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Diagonal-Mahalanobis embedding outliers: per-(label, dim) mean and
# variance from integer-quantized coordinates (exact sums / sums of
# squares), then a row-local standardized distance — the scale-aware
# upgrade of embedding_centroid_distance for embedding-space QC.
# ---------------------------------------------------------------------------
@register(
    "embedding_mahalanobis_diag",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS xi
      FROM embeddings
    ), long AS (
      SELECT label, unnest(range(len(xi))) AS pos, unnest(xi) AS x FROM v
    ), stats AS (
      SELECT label, pos,
             sum(x) AS sx, sum(x * x) AS sxx, count(*) AS cnt
      FROM long GROUP BY label, pos
    ), mv AS (
      SELECT label, pos,
             sx / (1000000.0 * cnt) AS mu,
             (sxx / (1.0e12 * cnt)) - (sx / (1000000.0 * cnt)) * (sx / (1000000.0 * cnt))
               AS var
      FROM stats
    ), marr AS (
      SELECT label,
             list(mu ORDER BY pos) AS mus,
             list(var ORDER BY pos) AS vars
      FROM mv GROUP BY label
    )
    SELECT v.vec_id, v.label,
           floor(list_aggregate(
             list_transform(range(len(v.xi)),
               i -> CASE WHEN m.vars[i + 1] > 0.0 THEN
                      (v.xi[i + 1] / 1000000.0 - m.mus[i + 1])
                      * (v.xi[i + 1] / 1000000.0 - m.mus[i + 1]) / m.vars[i + 1]
                    ELSE 0.0 END),
             'sum') * 1.0e6 + 0.5) / 1.0e6 AS d2
    FROM v JOIN marr m ON v.label = m.label
    """,
)
def embedding_mahalanobis_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label diagonal-covariance standardized distance
    D² = Σ_d (x_d − μ_d)²/σ²_d. Engine-exactness: coordinates quantize
    to integer micro-units FIRST, so the per-(label, dim) sums and
    sums-of-squares are exact integer aggregates (order-independent);
    μ and σ² are then single divisions of identical integers, and D² is
    a row-local left-to-right fold over identical doubles. One shuffle
    (the (label, dim) integer agg, map-side combinable); the per-label
    μ/σ² arrays are labels-sized and broadcast; the corpus streams
    through the distance computation once. Zero-variance dims contribute
    0 (identical CASE on both engines)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    xi = F.transform(e, lambda x: F.floor(x * 1000000.0 + 0.5).cast("long"))
    v = emb.select("vec_id", "label", xi.alias("xi"))
    long_ = v.select("label", F.posexplode(F.col("xi")).alias("pos", "x"))
    stats = long_.groupBy("label", "pos").agg(
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.count(F.lit(1)).alias("cnt"),
    )
    mu = F.col("sx") / (1000000.0 * F.col("cnt"))
    var = (F.col("sxx") / (1.0e12 * F.col("cnt"))) - mu * mu
    marr = (
        stats.select(
            "label",
            F.struct(
                "pos", mu.alias("mu"), var.alias("var")
            ).alias("pc"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("pc")), lambda st: st["mu"]
            ).alias("mus"),
            F.transform(
                F.array_sort(F.collect_list("pc")), lambda st: st["var"]
            ).alias("vars"),
        )
    )
    xd = F.transform(F.col("xi"), lambda q: q / 1000000.0)
    d2 = F.aggregate(
        F.zip_with(
            xd,
            F.zip_with(
                F.col("mus"), F.col("vars"),
                lambda m, s: F.struct(m.alias("m"), s.alias("s")),
            ),
            lambda x, ms: F.when(
                ms["s"] > 0.0, (x - ms["m"]) * (x - ms["m"]) / ms["s"]
            ).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        v.join(F.broadcast(marr), "label")
        .select(
            "vec_id",
            "label",
            (F.floor(d2 * 1.0e6 + 0.5) / 1.0e6).alias("d2"),
        )
    )


# ===========================================================================
# Staged wave 5
# ===========================================================================

# ---------------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis-Spirakis A-Res): key =
# ln(u)/w with a hash-derived uniform u — the exact shape of
# quality-weighted corpus subsampling (mixture construction weights
# better documents higher without hard cutoffs).
# ---------------------------------------------------------------------------
_ARES_K = 200


@register(
    "weighted_sample_ares",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              + 1.0) / 4294967297.0 AS u
      FROM documents WHERE n_chars > 0
    ), ranked AS (
      SELECT doc_id, n_chars,
             floor(ln(u) / n_chars * 1.0e9 + 0.5) / 1.0e9 AS ares_key,
             row_number() OVER (
               ORDER BY floor(ln(u) / n_chars * 1.0e9 + 0.5) / 1.0e9 DESC,
                        doc_id ASC
             ) AS rk
      FROM keyed
    )
    SELECT doc_id, n_chars, ares_key, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_ARES_K}
    """,
)
def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} weighted sample without replacement: maximizing
    u^(1/w) is equivalent to maximizing ln(u)/w (u in (0,1)), so one
    global top-k over a row-local key does it — replayable because u
    derives from md5(doc_id) (no RNG state), and engine-stable because
    the key is floor-rounded at 1e-9 BEFORE ranking with a doc_id
    tiebreak (ln is libm on both engines; a last-ulp difference near
    the top-k boundary would otherwise flip membership). The plan IS a
    TakeOrdered (round-9 migration): orderBy().limit(k) — per-partition
    top-k then a k x partitions merge, no global sort — and the rank
    window runs over the k-row result only."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / 4294967297.0
    key = F.floor(F.log(u) / F.col("n_chars") * 1.0e9 + 0.5) / 1.0e9
    top = (
        docs.select("doc_id", "n_chars", key.alias("ares_key"))
        .orderBy(F.col("ares_key").desc(), F.col("doc_id").asc())
        .limit(_ARES_K)
    )
    w = Window.orderBy(F.col("ares_key").desc(), F.col("doc_id").asc())
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# NULL-skew-isolated outer join: 30% of the fact rows carry a NULL FK
# (unsent attribution, anonymous users ...). A plain left join shuffles
# every NULL into ONE reducer's hash bucket neighborhood; the isolated
# plan unions (a) the NULL rows projected directly (they can never
# match) with (b) the real join over the non-NULL remainder — same
# answer, no NULL hot partition. The oracle is the plain LEFT JOIN.
# ---------------------------------------------------------------------------
@register(
    "left_join_null_skew_isolated",
    oracle="""
    WITH f AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 < 3 THEN NULL ELSE o_custkey END AS fk
      FROM orders
    )
    SELECT f.o_orderkey, f.fk, c.c_name
    FROM f LEFT JOIN customer c ON f.fk = c.c_custkey
    """,
)
def left_join_null_skew_isolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-union formulation: NULL-FK rows bypass the join entirely
    (row-local projection with a NULL payload), non-NULL rows take the
    real equi-join. Catalyst does not rewrite this automatically for
    LEFT joins at scale when the NULL fraction is extreme — the split
    is the standard manual isolation (same family as salted_skew_join,
    which handles hot NON-null keys)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    f = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 < 3, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("fk"),
    )
    nulls = f.filter(F.col("fk").isNull()).select(
        "o_orderkey", "fk", F.lit(None).cast("string").alias("c_name")
    )
    nonnull = (
        f.filter(F.col("fk").isNotNull())
        .join(
            customer.select(F.col("c_custkey").alias("fk"), "c_name"),
            "fk",
            "left",
        )
        .select("o_orderkey", "fk", "c_name")
    )
    return nonnull.unionByName(nulls)


# ---------------------------------------------------------------------------
# Bag-semantics set operations: EXCEPT ALL / INTERSECT ALL preserve
# multiplicities (the distinct variants already ship). Results grouped
# to (part_key, n) rows and tagged so one query exercises both.
# ---------------------------------------------------------------------------
@register(
    "except_intersect_all",
    oracle="""
    WITH a AS (SELECT l_partkey FROM lineitem WHERE l_quantity < 25),
    b AS (SELECT l_partkey FROM lineitem WHERE l_discount > 0.02),
    ex AS (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b),
    ix AS (SELECT l_partkey FROM a INTERSECT ALL SELECT l_partkey FROM b)
    SELECT 'except_all' AS op, l_partkey AS part_key,
           CAST(count(*) AS BIGINT) AS n
    FROM ex GROUP BY l_partkey
    UNION ALL
    SELECT 'intersect_all', l_partkey, CAST(count(*) AS BIGINT)
    FROM ix GROUP BY l_partkey
    """,
)
def except_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exceptAll / intersectAll (multiset difference and intersection —
    a row occurring 5 times in A and 2 in B survives EXCEPT ALL 3
    times). Spark plans both as a count-aggregate + Generate replay
    (one shuffle each, no sort); grouped output keeps the comparison
    order-insensitive."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") < 25).select("l_partkey")
    b = li.filter(F.col("l_discount") > 0.02).select("l_partkey")
    ex = (
        a.exceptAll(b)
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("except_all").alias("op"), "part_key", "n")
    )
    ix = (
        a.intersectAll(b)
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "part_key", "n")
    )
    return ex.unionByName(ix)


# ---------------------------------------------------------------------------
# Near-dup component size histogram: the dedup diagnostic (a fat tail of
# giant components usually means the threshold is too loose or a
# boilerplate family escaped the guards).
# ---------------------------------------------------------------------------
def _component_histogram_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        CONFIRMED_COMPONENT_CTES,
        _LSH_CAND_CTES,
        _SHINGLES_CTE,
    )

    return f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_LSH_CAND_CTES},
    {CONFIRMED_COMPONENT_CTES},
    csize AS (
      SELECT component, CAST(count(*) AS BIGINT) AS size FROM comp GROUP BY component
    )
    SELECT size, CAST(count(*) AS BIGINT) AS n_components
    FROM csize GROUP BY size
    """


@register("dedup_component_size_histogram", oracle=_component_histogram_oracle())
def dedup_component_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup cluster sizes from the confirmed-pair
    component labeling (>= 0.5 exact Jaccard over LSH candidates).
    Singletons never enter the pair graph, so the histogram covers
    multi-document clusters only — two tiny aggregations on top of the
    existing iterative operator."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        connected_components,
        jaccard_for_pairs,
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _distinct_shingles,
    )

    shingles = _distinct_shingles(spark, sf_dir)
    sig = minhash_signature(shingles, "doc_id", "s", num_hashes=8, hash_family="md5")
    buckets = lsh_band_buckets(sig, "doc_id", num_hashes=8, bands=4)
    cand = lsh_candidate_pairs(buckets, "doc_id", max_bucket_size=50)
    pairs = jaccard_for_pairs(cand, shingles, "doc_id", "s").filter(
        F.col("jaccard") >= 0.5
    )
    comp = connected_components(pairs)
    csize = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return csize.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_components")
    )


# ===========================================================================
# Staged wave 6
# ===========================================================================

# ---------------------------------------------------------------------------
# Frequent-items sketch (df.stat.freqItems, a space-saving-family
# sketch): like the HLL and quantile sketches, the estimate is
# engine-specific, so the driver-checked contract is the RECALL
# guarantee — every item with true support above the threshold must
# appear in the sketch result (false positives allowed, false negatives
# not). The oracle computes exact supports and pins the boolean TRUE.
# ---------------------------------------------------------------------------
_FREQ_SUPPORT = 0.05


@register(
    "sketch_frequent_items",
    oracle=f"""
    WITH counts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
      GROUP BY event_type
    ), total AS (SELECT sum(n) AS tot FROM counts)
    SELECT event_type, n AS exact_count, TRUE AS in_sketch
    FROM counts, total
    WHERE n > {_FREQ_SUPPORT} * tot
    """,
)
def sketch_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection with a FULLY LAZY sketch (df.stat.freqItems
    materializes its result eagerly inside query construction — the one
    hidden-job shape this registry bans): candidates are the
    partition-locally frequent keys. Pigeonhole recall lemma: if
    count(x) > s·N globally then some partition p has
    count_p(x) > s·N_p, so the union of per-partition heavy hitters
    (a distributed Misra-Gries cousin) can never miss a true heavy
    hitter — false positives allowed, false negatives impossible, for
    ANY partition layout. At 100 TB the local counts are map-side
    partial aggregates and the candidate set is a tiny broadcast; this
    is THE pre-shuffle hot-key probe (the salting decision input). The
    emitted rows are the exact-side truths; in_sketch flips to false
    (hash-match failure) if the candidate set ever drops one."""
    ev = _t(spark, sf_dir, "events")
    tagged = ev.select("event_type", F.spark_partition_id().alias("pid"))
    local = tagged.groupBy("pid", "event_type").agg(
        F.count(F.lit(1)).alias("local_cnt")
    )
    per_part = tagged.groupBy("pid").agg(F.count(F.lit(1)).alias("pid_rows"))
    cand = (
        local.join(per_part, "pid")
        .filter(F.col("local_cnt") > _FREQ_SUPPORT * F.col("pid_rows"))
        .select("event_type")
        .distinct()
        .withColumn("in_sk", F.lit(True))
    )
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    total = counts.agg(F.sum("exact_count").alias("tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("exact_count") > _FREQ_SUPPORT * F.col("tot"))
        .join(F.broadcast(cand), "event_type", "left")
        .select(
            "event_type",
            "exact_count",
            F.coalesce(F.col("in_sk"), F.lit(False)).alias("in_sketch"),
        )
    )


# ---------------------------------------------------------------------------
# Normalized exact dedup (the C4 recipe): lowercase, collapse runs of
# whitespace, strip non-alphanumerics — catches trivially-reformatted
# copies that byte-exact digests miss.
# ---------------------------------------------------------------------------
@register(
    "dedup_exact_normalized",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS norm_hash
      FROM documents
    )
    SELECT norm_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM norm GROUP BY norm_hash
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-on-normalized-text dedup. The normalization regexes stick
    to syntax RE2 and the JVM engine interpret identically (character
    classes, +, no lookarounds); Spark's regexp_replace is global by
    default (= DuckDB's 'g' flag). Same single-shuffle digest groupBy
    as dedup_exact."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    return (
        docs.select("doc_id", norm.alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Watermark late-data audit: BEFORE picking a streaming watermark
# delay, measure how much data would have been late under it — per
# tumbling hour, how many events arrived (by event_id sequence) after
# the running event-time high-water-mark had passed them by more than
# the candidate delay.
# ---------------------------------------------------------------------------
_WM_DELAY_S = 600


@register(
    "late_data_accounting",
    oracle=f"""
    WITH seq AS (
      SELECT event_id, ts, epoch(ts) AS es,
             max(epoch(ts)) OVER (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      FROM events
    )
    SELECT date_trunc('hour', ts) + INTERVAL 0 SECOND AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN hwm IS NOT NULL AND es < hwm - {_WM_DELAY_S}.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           floor(sum(CASE WHEN hwm IS NOT NULL AND es < hwm - {_WM_DELAY_S}.0
                          THEN 1 ELSE 0 END) * 1.0e6 / count(*) + 0.5) / 1.0e6
             AS late_frac
    FROM seq
    GROUP BY date_trunc('hour', ts)
    """,
)
def late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An event is late-under-delay-d when its event time sits more than
    d seconds behind the event-time high-water-mark of everything that
    ARRIVED before it (event_id is the arrival sequence — a single
    logical order by semantics). Round-9 migration: the running max
    over the arrival sequence comes from running_extreme_two_pass
    (range-bucketed on event_id, exclusive frame — never one task),
    then a tumbling-hour rollup; this is exactly the accounting that
    justifies a withWatermark('10 minutes') choice — the fraction of
    each window the streaming job would drop. date_trunc returns
    DATE-less TIMESTAMP on both engines (DuckDB's +INTERVAL 0 keeps it
    TIMESTAMP, never DATE)."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        running_extreme_two_pass,
    )

    ev = _t(spark, sf_dir, "events")
    es = F.col("ts").cast("double")
    seq = running_extreme_two_pass(
        ev.select("event_id", "ts", es.alias("es")),
        "event_id", "event_id", "es",
        out_col="hwm", agg="max", inclusive=False,
    ).select("ts", "es", "hwm")
    late = F.when(
        F.col("hwm").isNotNull() & (F.col("es") < F.col("hwm") - float(_WM_DELAY_S)),
        1,
    ).otherwise(0)
    return (
        seq.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(late).cast("long").alias("n_late"),
            (
                F.floor(F.sum(late) * 1.0e6 / F.count(F.lit(1)) + 0.5) / 1.0e6
            ).alias("late_frac"),
        )
    )


# ===========================================================================
# Staged wave 7
# ===========================================================================

# ---------------------------------------------------------------------------
# TEOS-10 dynamic enthalpy — moved to functions/teos10.py in round 8 so
# the functions->plans dependency points one way (round-7 advisor
# item); re-exported here for the existing consumers of this module.
# ---------------------------------------------------------------------------
from cioos_siooc_data_transform_spark.functions.teos10 import (  # noqa: E402
    dynamic_enthalpy_sql,
)


# Unregistered reference form: the live gsw_dynamic_enthalpy is the
# staged-Horner twin in plans/staged_r9.py.
def gsw_dynamic_enthalpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic enthalpy (the pressure-dependent part of specific
    enthalpy; enthalpy = cp0*CT + h_dyn). Plain 75-term sum — identical
    literal arithmetic on both engines, left-to-right in sorted
    coefficient order; values O(1e3) J/kg so 6-dp rounding is far above
    double noise. Zero shuffle, pure codegen."""
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    df = _inputs(spark, sf_dir)
    staged = df.select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.expr(dynamic_enthalpy_sql("sa", "ct", "p")), 6).alias("h_dyn"),
    )


def _dyn_enthalpy_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    return f"""
    SELECT l_orderkey, l_linenumber,
           round({dynamic_enthalpy_sql("sa", "ct", "p")}, 6) AS h_dyn
    FROM (
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    )
    """


# ---------------------------------------------------------------------------
# Token-bucket rate limiting: a clamped recurrence
# (tokens' = min(cap, tokens + refill*dt) - cost if allowed) — the one
# per-key sequential computation class that windows genuinely cannot
# express (LOCF and cumulative sums have closed forms; a running clamp
# does not). Batch twin = applyInPandas per user; streaming twin would
# be applyInPandasWithState with the same kernel. Integer arithmetic
# (millitokens, second-quantized timestamps) keeps the recurrence
# engine-exact; the oracle replays it with a recursive CTE.
# ---------------------------------------------------------------------------
_TB_CAP = 1000       # millitokens (a one-token bucket)
_TB_REFILL = 1       # millitokens per second (full token after 1000 s)
_TB_COST = 1000      # millitokens per event


@register(
    "rate_limit_token_bucket",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    walk(user_id, rn, event_id, es, tokens_after, allowed) AS (
      SELECT user_id, rn, event_id, es,
             CAST({_TB_CAP} - {_TB_COST} AS BIGINT), TRUE
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.event_id, e.es,
             CASE WHEN least({_TB_CAP}, w.tokens_after
                             + {_TB_REFILL} * (e.es - w.es)) >= {_TB_COST}
                  THEN least({_TB_CAP}, w.tokens_after
                             + {_TB_REFILL} * (e.es - w.es)) - {_TB_COST}
                  ELSE least({_TB_CAP}, w.tokens_after
                             + {_TB_REFILL} * (e.es - w.es))
             END,
             least({_TB_CAP}, w.tokens_after
                   + {_TB_REFILL} * (e.es - w.es)) >= {_TB_COST}
      FROM e JOIN walk w ON e.user_id = w.user_id AND e.rn = w.rn + 1
    )
    SELECT user_id, event_id, CAST(tokens_after AS BIGINT) AS tokens_after,
           allowed
    FROM walk
    """,
)
def rate_limit_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user token bucket (one-token capacity, full refill after
    1000 s, millitoken integers, second-quantized time — a strict
    rate limiter that denies bursts): each event
    is allowed iff the refilled bucket holds a full token, and only
    allowed events pay. The recurrence is order-sequential per user —
    implemented with applyInPandas (one shuffle on user_id, linear scan
    per group; the streaming twin is the same kernel under
    applyInPandasWithState) and replayed by the oracle as a recursive
    CTE. The bucket starts full; the first event is always allowed.
    Integer state means no float drift across engines or restarts."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("es"),
        "ts",
    )

    def bucket(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        tokens = _TB_CAP
        prev_es = None
        out_tokens, out_allowed = [], []
        for es in pdf["es"]:
            if prev_es is not None:
                tokens = min(_TB_CAP, tokens + _TB_REFILL * (es - prev_es))
            allowed = tokens >= _TB_COST
            if allowed:
                tokens -= _TB_COST
            out_tokens.append(tokens)
            out_allowed.append(allowed)
            prev_es = es
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "tokens_after": out_tokens,
                "allowed": out_allowed,
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        bucket,
        schema="user_id long, event_id long, tokens_after long, allowed boolean",
    )


# ===========================================================================
# Staged wave 8
# ===========================================================================

# ---------------------------------------------------------------------------
# Language-ID confusion matrix: predicted (stopword-vote classifier,
# same rule as text_langid) vs the corpus's labeled lang — the
# classifier-evaluation rollup with per-cell precision denominators.
# ---------------------------------------------------------------------------
def _langid_confusion_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.text_queries import _sw_list

    return f"""
    WITH w AS (SELECT doc_id, lang,
                      list_distinct(string_split(text, ' ')) AS dw
               FROM documents),
    h AS (
      SELECT doc_id, lang,
             CAST(len(list_intersect(dw, {_sw_list("en")})) AS BIGINT) AS en_hits,
             CAST(len(list_intersect(dw, {_sw_list("es")})) AS BIGINT) AS es_hits,
             CAST(len(list_intersect(dw, {_sw_list("fr")})) AS BIGINT) AS fr_hits,
             CAST(len(list_intersect(dw, {_sw_list("de")})) AS BIGINT) AS de_hits
      FROM w
    ),
    pred AS (
      SELECT lang AS true_lang,
             CASE
               WHEN en_hits > 0 AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
               WHEN es_hits > 0 AND es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
               WHEN fr_hits > 0 AND fr_hits >= de_hits THEN 'fr'
               WHEN de_hits > 0 THEN 'de'
               ELSE 'und'
             END AS pred_lang
      FROM h
    )
    SELECT true_lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(count(*) * 1.0e6
                 / sum(count(*)) OVER (PARTITION BY true_lang) + 0.5) / 1.0e6
             AS row_frac
    FROM pred
    GROUP BY true_lang, pred_lang
    """


@register("langid_confusion_matrix", oracle=_langid_confusion_oracle())
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(true lang x predicted lang) counts plus the per-true-lang row
    fraction (recall on the diagonal) — the eval artifact behind every
    classifier-based corpus filter. One bounded-key aggregation over
    the row-local classifier; the row_frac window runs over at most
    |langs|^2 rows."""
    from cioos_siooc_data_transform_spark.operators.text import (
        lang_hit_counts,
        predict_language,
    )
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    docs = _t(spark, sf_dir, "documents")
    words = words_expr(F.col("text"))
    hits = lang_hit_counts(words)
    pred = docs.select(
        F.col("lang").alias("true_lang"),
        predict_language(hits).alias("pred_lang"),
    )
    counts = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = Window.partitionBy("true_lang")
    return counts.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        (
            F.floor(F.col("n_docs") * 1.0e6 / F.sum("n_docs").over(w) + 0.5)
            / 1.0e6
        ).alias("row_frac"),
    )


# ---------------------------------------------------------------------------
# Reference-vertical integration: Mackenzie sound speed computed over
# the PARSED IOS profile — the full chain (mapInPandas parse → pad
# masking → per-record pivot → derived oceanographic variable) in one
# oracle-gated query. The oracle applies the same formula to the
# fixture's literal values, so the parse, the masking, AND the formula
# are all on the hook.
# ---------------------------------------------------------------------------
@register(
    "ios_profile_sound_speed",
    oracle="""
    WITH rec AS (
      SELECT * FROM (VALUES
        ('sample-2024-001-0007', 0, 1.0, 7.1, 30.1),
        ('sample-2024-001-0007', 1, 2.0, 8.2, 30.8),
        ('sample-2024-001-0007', 2, 3.0, CAST(NULL AS DOUBLE), 31.2),
        ('sample-2024-001-0007', 3, 4.5, 9.9, 31.5)
      ) AS t(file_id, record_idx, depth, temp, sal)
    )
    SELECT file_id, record_idx, CAST(depth AS DOUBLE) AS depth,
           round(1448.96 + 4.591*temp - 5.304e-2*temp*temp
                 + 2.374e-4*temp*temp*temp + 1.340*(sal - 35.0)
                 + 1.630e-2*depth + 1.675e-7*depth*depth
                 - 1.025e-2*temp*(sal - 35.0)
                 - 7.139e-13*temp*depth*depth*depth, 6) AS sound_speed
    FROM rec
    """,
)
def ios_profile_sound_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth/temperature/salinity pivot of the masked long-format
    measurements (channels 1/2/3 of the fixture), then Mackenzie (1981)
    per record. The pad-masked temperature (record 2, -99.0) propagates
    to a NULL sound speed — exactly what the CF sink would write. Same
    per-session parse cache as every ios_* query: one Python crossing
    total."""
    from cioos_siooc_data_transform_spark.functions.oceanography import (
        mackenzie_sound_speed,
    )
    from cioos_siooc_data_transform_spark.plans.ios_queries import (
        _parsed_sample,
    )
    from cioos_siooc_data_transform_spark.sources.ios_source import (
        ios_measurements_masked,
    )

    meas = ios_measurements_masked(_parsed_sample(spark))
    pivoted = meas.groupBy("file_id", "record_idx").agg(
        F.max(F.when(F.col("channel_idx") == 1, F.col("value_num"))).alias("depth"),
        F.max(F.when(F.col("channel_idx") == 2, F.col("value_num"))).alias("temp"),
        F.max(F.when(F.col("channel_idx") == 3, F.col("value_num"))).alias("sal"),
    )
    return pivoted.select(
        "file_id",
        F.col("record_idx").cast("int").alias("record_idx"),
        "depth",
        F.round(
            mackenzie_sound_speed(F.col("temp"), F.col("sal"), F.col("depth")), 6
        ).alias("sound_speed"),
    )


# ===========================================================================
# Staged wave 9
# ===========================================================================

# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003): the
# rightmost-minimum hash of every w-window of k-gram hashes — the
# local-similarity fingerprint family (MOSS). Guarantees any shared
# substring of length >= w+k-1 words produces a shared fingerprint,
# which positional shingle sampling does not.
# ---------------------------------------------------------------------------
_WIN_W = 4  # window of consecutive 3-gram hashes


@register(
    "dedup_fingerprint_winnowing",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(words) - 2, 0)),
               i -> CAST(('0x' || substr(md5(words[i] || ' ' || words[i+1]
                                         || ' ' || words[i+2]), 1, 8)) AS BIGINT))
               AS h
      FROM w
    ),
    fp AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, len(h) - {_WIN_W} + 1),
               j -> {{'fp_pos': j - 1
                        + ({_WIN_W} + 1
                           - list_position(list_reverse(h[j:j+{_WIN_W}-1]),
                                           list_min(h[j:j+{_WIN_W}-1]))),
                     'fp_hash': list_min(h[j:j+{_WIN_W}-1])}}) AS fps
      FROM hs WHERE len(h) >= {_WIN_W}
    )
    SELECT DISTINCT doc_id,
           CAST(u.fp_pos AS BIGINT) AS fp_pos,
           u.fp_hash
    FROM (SELECT doc_id, unnest(fps) AS u FROM fp)
    """,
)
def dedup_fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: 32-bit k-gram hashes (md5 prefix — engine-portable),
    then for each window of {w} consecutive hashes the RIGHTMOST minimum
    (the winnowing tie rule) with its 1-based shingle position;
    duplicates collapse row-locally (the same minimum usually wins many
    overlapping windows — expected density 2/(w+1)). Entirely row-local
    array codegen, zero shuffle; downstream near-dup candidates come
    from an inverted index on fp_hash exactly like n-gram Jaccard."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    sh = word_shingles(words_expr(F.col("text")), 3)
    h = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    w = _WIN_W
    staged = docs.select("doc_id", h.alias("h")).filter(F.size("h") >= w)

    def fp(j):
        sl = F.slice(F.col("h"), j, w)  # j is 1-based Column
        mn = F.array_min(sl)
        right_off = w + 1 - F.array_position(F.reverse(sl), mn)
        return F.struct(
            (j - 1 + right_off).cast("long").alias("fp_pos"),
            mn.alias("fp_hash"),
        )

    fps = F.transform(
        F.sequence(F.lit(1), F.size("h") - w + 1), lambda j: fp(j)
    )
    # round-13: duplicate fingerprints can only occur WITHIN a doc (the
    # distinct key includes doc_id and every fp row of a doc comes from
    # one array), so array_distinct before the explode replaces the
    # global .distinct() — the plan's ONLY Exchange — with row-local
    # dedup: the whole query is now map-side. Result-identical
    # (exceptAll both ways = 0 at sf0.1); isolated A/B 2.21 -> 1.99 s.
    return (
        staged.select("doc_id", F.explode(F.array_distinct(fps)).alias("u"))
        .select(
            "doc_id",
            F.col("u.fp_pos").alias("fp_pos"),
            F.col("u.fp_hash").alias("fp_hash"),
        )
    )


# ---------------------------------------------------------------------------
# A/B test lift: deterministic hash split, exact per-arm conversion
# counts, and the relative lift — the experiment-analysis primitive.
# ---------------------------------------------------------------------------
@register(
    "ab_test_lift",
    oracle="""
    WITH arms AS (
      SELECT DISTINCT user_id, user_id % 2 AS arm FROM events
    ), conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), stats AS (
      SELECT a.arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_converted
      FROM arms a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY a.arm
    )
    SELECT CAST(a.n_users AS BIGINT) AS control_users,
           CAST(a.n_converted AS BIGINT) AS control_converted,
           CAST(b.n_users AS BIGINT) AS treat_users,
           CAST(b.n_converted AS BIGINT) AS treat_converted,
           floor(a.n_converted * 1.0e6 / a.n_users + 0.5) / 1.0e6 AS control_rate,
           floor(b.n_converted * 1.0e6 / b.n_users + 0.5) / 1.0e6 AS treat_rate,
           CASE WHEN a.n_converted > 0 THEN
             floor((b.n_converted * 1.0 * a.n_users)
                   / (a.n_converted * 1.0 * b.n_users) * 1.0e6 + 0.5) / 1.0e6
               - 1.0
           ELSE NULL END AS relative_lift
    FROM (SELECT * FROM stats WHERE arm = 0) a,
         (SELECT * FROM stats WHERE arm = 1) b
    """,
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split experiment readout: users deterministically assigned
    by id parity, conversion = any purchase event; the lift is computed
    from the exact integer cross-ratio (one rounded expression) so the
    single output row hashes identically on both engines. Two
    distinct-aggs and a 2-row join — everything after the user dedup is
    driver-trivial."""
    ev = _t(spark, sf_dir, "events")
    arms = ev.select("user_id").distinct().select(
        "user_id", (F.col("user_id") % 2).alias("arm")
    )
    conv = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    stats = (
        arms.join(conv.withColumn("_c", F.lit(1)), "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.when(F.col("_c").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_converted"),
        )
    )
    a = stats.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("control_users"),
        F.col("n_converted").alias("control_converted"),
    )
    b = stats.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("treat_users"),
        F.col("n_converted").alias("treat_converted"),
    )
    joined = a.crossJoin(b)
    return joined.select(
        "control_users",
        "control_converted",
        "treat_users",
        "treat_converted",
        (
            F.floor(F.col("control_converted") * 1.0e6 / F.col("control_users") + 0.5)
            / 1.0e6
        ).alias("control_rate"),
        (
            F.floor(F.col("treat_converted") * 1.0e6 / F.col("treat_users") + 0.5)
            / 1.0e6
        ).alias("treat_rate"),
        F.when(
            F.col("control_converted") > 0,
            F.floor(
                (F.col("treat_converted") * 1.0 * F.col("control_users"))
                / (F.col("control_converted") * 1.0 * F.col("treat_users"))
                * 1.0e6
                + 0.5
            )
            / 1.0e6
            - 1.0,
        ).alias("relative_lift"),
    )


# ===========================================================================
# Staged wave 10
# ===========================================================================

# ---------------------------------------------------------------------------
# Full specific enthalpy h = cp0*CT + h_dyn — the quantity TEOS-10
# conserves under adiabatic mixing (the whole point of CT). Unregistered
# reference form: the live gsw_enthalpy is the staged-Horner twin in
# plans/staged_r9.py.
# ---------------------------------------------------------------------------
def gsw_enthalpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h(SA, CT, p) = cp0*CT + dynamic enthalpy; completes the enthalpy
    pair (both terms already derivative- or check-value-pinned)."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        ct_from_t_sql,
    )

    df = _inputs(spark, sf_dir)
    staged = df.select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
        F.expr(_SA_SQL).alias("sa"),
    )
    h = F.expr(f"{_lit(GSW_CP0)}*ct") + F.expr(dynamic_enthalpy_sql("sa", "ct", "p"))
    return staged.select(
        "l_orderkey", "l_linenumber", F.round(h, 6).alias("enthalpy")
    )


def _enthalpy_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_CP0,
        _lit,
        ct_from_t_sql,
    )

    return f"""
    SELECT l_orderkey, l_linenumber,
           round({_lit(GSW_CP0)}*ct + {dynamic_enthalpy_sql("sa", "ct", "p")}, 6)
             AS enthalpy
    FROM (
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    )
    """


# ---------------------------------------------------------------------------
# Winnowing candidate pairs: inverted index over the wave-9
# fingerprints — docs sharing >= 2 selected prints, with the shared
# count as the MOSS-style overlap score. Same doc-frequency guard as
# the n-gram inverted index (boilerplate prints are dropped before the
# join).
# ---------------------------------------------------------------------------
_WIN_MAX_DF = 10
_WIN_MIN_SHARED = 2


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(words) - 2, 0)),
               i -> CAST(('0x' || substr(md5(words[i] || ' ' || words[i+1]
                                         || ' ' || words[i+2]), 1, 8)) AS BIGINT))
               AS h
      FROM w
    ),
    fp AS (
      SELECT DISTINCT doc_id, list_min(h[j:j+{_WIN_W}-1]) AS fp_hash
      FROM (
        SELECT doc_id, h, unnest(generate_series(1, len(h) - {_WIN_W} + 1)) AS j
        FROM hs WHERE len(h) >= {_WIN_W}
      )
    ),
    guarded AS (
      SELECT doc_id, fp_hash FROM (
        SELECT doc_id, fp_hash, count(*) OVER (PARTITION BY fp_hash) AS df
        FROM fp
      ) WHERE df <= {_WIN_MAX_DF}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_prints
    FROM guarded a JOIN guarded b
      ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_WIN_MIN_SHARED}
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index on the DISTINCT fingerprint hashes (positions
    dropped — membership is what pairs need), doc-frequency cap 10
    (hot boilerplate prints leave before the self-join, the same Zipf
    guard as n-gram Jaccard), pairs scored by shared-print count with
    a >= 2 floor. Because winnowing guarantees one shared print per
    shared >= w+k-1-word run, shared_prints lower-bounds the number of
    distinct long shared runs — the MOSS report, distributed."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        word_shingles,
        words_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    sh = word_shingles(words_expr(F.col("text")), 3)
    h = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    w = _WIN_W
    staged = docs.select("doc_id", h.alias("h")).filter(F.size("h") >= w)
    mins = F.transform(
        F.sequence(F.lit(1), F.size("h") - w + 1),
        lambda j: F.array_min(F.slice(F.col("h"), j, w)),
    )
    fp = staged.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp_hash")
    ).distinct()
    wdf = Window.partitionBy("fp_hash")
    guarded = fp.withColumn("_df", F.count(F.lit(1)).over(wdf)).filter(
        F.col("_df") <= _WIN_MAX_DF
    )
    a = guarded.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = guarded.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_prints"))
        .filter(F.col("shared_prints") >= _WIN_MIN_SHARED)
    )


# ===========================================================================
# Staged wave 11
# ===========================================================================

# ---------------------------------------------------------------------------
# Co-located bucketed join: orders and customer both WRITTEN bucketed by
# the customer key with the same bucket count, so the join plans with
# ZERO Exchange on either side — the layout investment that turns every
# repeat join on the key into a local merge. Plan pinned Exchange-free
# below the join in tests/test_staged_r5.py.
# ---------------------------------------------------------------------------
@register(
    "bucketed_colocated_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as the plain join; cheaper plan: both sides read
    pre-bucketed by the join key (8 buckets), so the only Exchange in
    the whole query is the final bounded-key aggregation. At 100 TB the
    bucketed write amortizes across every query joining on custkey —
    the same trade as dedup_exact_bucketed, extended to a two-table
    co-location."""
    from cioos_siooc_data_transform_spark.operators.bucketing import (
        ensure_bucketed_table,
    )

    orders_t = ensure_bucketed_table(spark, sf_dir, "orders", "o_custkey")
    cust_t = ensure_bucketed_table(spark, sf_dir, "customer", "c_custkey")
    o = spark.table(orders_t)
    c = spark.table(cust_t)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality profile: the additive-decomposition base
# table (weekly seasonal means + residual spread) for event values.
# ---------------------------------------------------------------------------
@register(
    "events_dow_seasonality",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS vmic
      FROM events
    )
    SELECT event_type, dow,
           CAST(count(*) AS BIGINT) AS n_events,
           floor(sum(vmic) * 1.0 / count(*) + 0.5) / 1.0e6 AS mean_value,
           floor((max(vmic) - min(vmic)) / 2.0 + 0.5) / 1.0e6 AS half_range
    FROM q
    GROUP BY event_type, dow
    """,
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event type, day-of-week) value profile from integer-micro
    sums — the seasonal-mean table a decomposition subtracts before
    anomaly scoring. Exact integer aggregation (order-independent), two
    rounded divisions; bounded output (types x 7). Spark's dayofweek is
    Sunday=1; DuckDB's is Sunday=0, so the oracle adds 1."""
    ev = _t(spark, sf_dir, "events")
    vmic = F.floor(F.col("value") * 1.0e6 + 0.5).cast("long")
    q = ev.select(
        "event_type",
        F.dayofweek("ts").cast("long").alias("dow"),
        vmic.alias("vmic"),
    )
    return q.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (
            F.floor(F.sum("vmic") * 1.0 / F.count(F.lit(1)) + 0.5) / 1.0e6
        ).alias("mean_value"),
        (
            F.floor((F.max("vmic") - F.min("vmic")) / 2.0 + 0.5) / 1.0e6
        ).alias("half_range"),
    )


# ===========================================================================
# Staged wave 12
# ===========================================================================

# ---------------------------------------------------------------------------
# Sweep-line interval counting: how many orders are OPEN on each day —
# decompose every [open, close) interval into a +1 and a -1 boundary
# event and take a running sum over the date axis. Linear in intervals
# where the naive days x orders stabbing join is quadratic; THE scale
# pattern for concurrency/backlog/occupancy questions.
# ---------------------------------------------------------------------------
@register(
    "interval_sweepline_backlog",
    oracle="""
    WITH iv AS (
      SELECT o_orderdate AS open_d,
             o_orderdate + INTERVAL (1 + o_orderkey % 30) DAY AS close_d
      FROM orders
    ),
    bounds AS (
      SELECT CAST(open_d AS DATE) AS d, 1 AS delta FROM iv
      UNION ALL
      SELECT CAST(close_d AS DATE), -1 FROM iv
    ),
    daily AS (
      SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM bounds GROUP BY d
    )
    SELECT d + INTERVAL 0 SECOND AS day_ts,
           net,
           CAST(sum(net) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
    FROM daily
    """,
)
def interval_sweepline_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order is open for 1 + (o_orderkey % 30) days (deterministic
    synthetic close). One map-side-combinable daily aggregation of the
    boundary deltas (two rows per interval), then a single running sum
    over the bounded date axis — never a days x orders join. At 100 TB
    the date axis stays tiny, so the window is effectively driver-cheap
    while the interval decomposition is embarrassingly parallel. Dates
    are emitted as timestamps (driver canon: DuckDB DATE and Spark
    DateType collect differently)."""
    orders = _t(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_orderdate").alias("open_d"),
        F.date_add(
            F.col("o_orderdate"), (1 + F.col("o_orderkey") % 30).cast("int")
        ).alias("close_d"),
    )
    bounds = iv.select(F.col("open_d").alias("d"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("close_d").alias("d"), F.lit(-1).alias("delta"))
    )
    daily = bounds.groupBy("d").agg(F.sum("delta").cast("long").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("d").cast("timestamp").alias("day_ts"),
        "net",
        F.sum("net").over(w).cast("long").alias("open_orders"),
    )


# ===========================================================================
# Staged wave 13
# ===========================================================================

# ---------------------------------------------------------------------------
# TEOS-10 CT-native sound speed: c = 1e4 * v * sqrt(-1/(dv/dz)) from the
# committed 75-term polynomial and its ANALYTIC z-derivative (CT is
# conserved under adiabatic displacement, so the isentropic
# compressibility is the CT-held pressure derivative). The derivative
# sum is pinned against a finite difference of the independent Horner
# evaluation in tests.
# ---------------------------------------------------------------------------
def specvol_dz_sql(sa: str, ct: str, p: str) -> str:
    """Analytic d(specvol)/dz (z = p * 1e-4): sum K * v_JIK xs^I ys^J
    z^(K-1) over the committed coefficient table."""
    from cioos_siooc_data_transform_spark.functions.teos10 import (
        GSW_OFFSET,
        GSW_SFAC,
        SPECVOL_COEFFS,
        _lit,
    )

    xs = f"sqrt({_lit(GSW_SFAC)}*({sa}) + {_lit(GSW_OFFSET)})"
    ys = f"(({ct})*0.025e0)"
    z = f"(({p})*1.0e-4)"
    terms = []
    for name, v in sorted(SPECVOL_COEFFS.items()):
        j_ys, i_xs, k_z = int(name[1]), int(name[2]), int(name[3])
        if k_z == 0:
            continue
        c = _lit(v * k_z)
        factors = [c] + [xs] * i_xs + [ys] * j_ys + [z] * (k_z - 1)
        terms.append("*".join(factors))
    return "(" + " + ".join(terms) + ")"


def _sound_speed_ct_sql(sa: str, ct: str, p: str) -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import specvol_sql

    v = specvol_sql(sa, ct, p)
    dz = specvol_dz_sql(sa, ct, p)
    return f"(1.0e4*{v}*sqrt(-1.0e0/{dz}))"


def _sound_speed_ct_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    return f"""
    SELECT l_orderkey, l_linenumber,
           round({_sound_speed_ct_sql("sa", "ct", "p")}, 6) AS sound_speed_ct
    FROM (
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    )
    """


@register("gsw_sound_speed_ct_native", oracle=_sound_speed_ct_oracle())
def gsw_sound_speed_ct_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sound speed from c^2 = dp/drho = -v^2/(dv/dP): both factors are
    plain sums over the check-valued coefficient table, so correctness
    reduces to the derivative construction — pinned by finite
    difference — plus a physical-envelope test against the independent
    Mackenzie (1981) formulation. CT materialized once; identical
    literal arithmetic on both engines; zero shuffle."""
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    df = _inputs(spark, sf_dir)
    staged = df.select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.expr(_sound_speed_ct_sql("sa", "ct", "p")), 6).alias(
            "sound_speed_ct"
        ),
    )


# ===========================================================================
# Staged wave 14
# ===========================================================================

# ---------------------------------------------------------------------------
# CUSUM range drift: per event type, the range (max - min) of the
# prefix sum of deviations from the type's overall mean — the classic
# cumulative-sum changepoint statistic (a mean shift anywhere in the
# sequence inflates the range; stationary noise keeps it near the
# random-walk envelope). All integer micro-units; the prefix sum is one
# ordered window per type.
# ---------------------------------------------------------------------------
@register(
    "cusum_range_drift",
    oracle="""
    WITH q AS (
      SELECT event_type, ts, event_id,
             CAST(floor(value * 1.0e6 + 0.5) AS BIGINT) AS vmic
      FROM events
    ), m AS (
      SELECT event_type,
             CAST(sum(vmic) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n
      FROM q GROUP BY event_type
    ), dev AS (
      SELECT q.event_type, q.ts, q.event_id,
             q.vmic * m.n - m.total AS dev_scaled
      FROM q JOIN m ON q.event_type = m.event_type
    ), pre AS (
      SELECT event_type,
             CAST(sum(dev_scaled) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS c
      FROM dev
    )
    SELECT p.event_type,
           m.n AS n_events,
           floor((max(p.c) - min(p.c)) * 1.0 / m.n / 1.0e6 * 1.0e6 + 0.5) / 1.0e6
             AS cusum_range
    FROM pre p JOIN m ON p.event_type = m.event_type
    GROUP BY p.event_type, m.n
    """,
)
def cusum_range_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deviations are scaled by n (dev = v*n - total) so the prefix sums
    stay EXACT integers — no mean-rounding enters the running sum; the
    final range is divided back by n once. BIGINT headroom: |v*n| <=
    1e6-micro values x 1e5 rows ~ 1e13 per term, prefix sums bounded by
    n * that ~ 1e18 at sf0.1 — inside int64; at larger SFs scale vmic
    down or use DECIMAL. One window shuffle keyed by event type."""
    ev = _t(spark, sf_dir, "events")
    vmic = F.floor(F.col("value") * 1.0e6 + 0.5).cast("long")
    q = ev.select("event_type", "ts", "event_id", vmic.alias("vmic"))
    m = q.groupBy("event_type").agg(
        F.sum("vmic").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dev = q.join(F.broadcast(m), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "n",
        (F.col("vmic") * F.col("n") - F.col("total")).alias("dev_scaled"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = dev.select(
        "event_type",
        "n",
        F.sum("dev_scaled").over(w).cast("long").alias("c"),
    )
    return pre.groupBy("event_type", F.col("n").alias("n_events")).agg(
        (
            F.floor(
                (F.max("c") - F.min("c")) * 1.0 / F.col("n_events") / 1.0e6 * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("cusum_range")
    )


# ---------------------------------------------------------------------------
# Dedup funnel: the end-to-end retention report — exact layer first
# (digest keepers), then the near-dup layer (connected components over
# confirmed >= 0.5-Jaccard pairs) applied to the exact survivors, with
# the component keeper re-elected among survivors (the component's
# min doc may itself have been an exact duplicate). One row out.
# ---------------------------------------------------------------------------
def _dedup_funnel_oracle() -> str:
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        CONFIRMED_COMPONENT_CTES,
        _LSH_CAND_CTES,
        _SHINGLES_CTE,
    )

    return f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_LSH_CAND_CTES},
    {CONFIRMED_COMPONENT_CTES},
    exact_keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    near_keep AS (
      SELECT min(k.doc_id) AS keeper, c.component
      FROM exact_keep k JOIN comp c ON c.node = k.doc_id
      GROUP BY c.component
    ),
    survivors AS (
      SELECT k.doc_id FROM exact_keep k
      LEFT JOIN comp c ON c.node = k.doc_id
      LEFT JOIN near_keep nk ON nk.component = c.component
      WHERE c.node IS NULL OR nk.keeper = k.doc_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_total,
           (SELECT CAST(count(*) AS BIGINT) FROM exact_keep) AS n_after_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM survivors) AS n_after_near,
           floor((SELECT count(*) FROM survivors) * 1.0e6
                 / (SELECT count(*) FROM documents) + 0.5) / 1.0e6
             AS retention
    """


@register("dedup_layer_funnel", oracle=_dedup_funnel_oracle())
def dedup_layer_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline-level dedup report: how many documents survive each
    layer, and the end-to-end retention fraction. Composes the existing
    exact-dedup and connected-components machinery; everything after
    the component labeling is counting."""
    from cioos_siooc_data_transform_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        jaccard_for_pairs,
        lsh_band_buckets,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from cioos_siooc_data_transform_spark.plans.dedup_queries import (
        _distinct_shingles,
    )

    docs = _t(spark, sf_dir, "documents")
    exact_keep = exact_dedup(docs, "doc_id", "text").select(
        F.col("keeper_id").alias("doc_id")
    )
    shingles = _distinct_shingles(spark, sf_dir)
    sig = minhash_signature(shingles, "doc_id", "s", num_hashes=8, hash_family="md5")
    buckets = lsh_band_buckets(sig, "doc_id", num_hashes=8, bands=4)
    cand = lsh_candidate_pairs(buckets, "doc_id", max_bucket_size=50)
    pairs = jaccard_for_pairs(cand, shingles, "doc_id", "s").filter(
        F.col("jaccard") >= 0.5
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("node"), "component"
    )
    near_keep = (
        exact_keep.join(comp, exact_keep["doc_id"] == comp["node"])
        .groupBy("component")
        .agg(F.min("doc_id").alias("keeper"))
    )
    survivors = (
        exact_keep.join(comp, exact_keep["doc_id"] == comp["node"], "left")
        .join(near_keep, "component", "left")
        .filter(F.col("node").isNull() | (F.col("keeper") == F.col("doc_id")))
    )
    ntot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    nex = exact_keep.agg(F.count(F.lit(1)).cast("long").alias("n_after_exact"))
    nnr = survivors.agg(F.count(F.lit(1)).cast("long").alias("n_after_near"))
    return (
        ntot.crossJoin(nex)
        .crossJoin(nnr)
        .select(
            "n_total",
            "n_after_exact",
            "n_after_near",
            (
                F.floor(F.col("n_after_near") * 1.0e6 / F.col("n_total") + 0.5)
                / 1.0e6
            ).alias("retention"),
        )
    )


# ===========================================================================
# Staged wave 15
# ===========================================================================

# ---------------------------------------------------------------------------
# Binary embedding compression: the 64 sign bits of each vector packed
# into ONE BIGINT (64x smaller than float32 — the binary-vector-DB
# representation), with near-dup pairs found by Hamming distance <= 6
# under the multi-index trick (candidates must share one of four
# 16-bit blocks — any pair within distance 6 shares a clean block by
# pigeonhole over 4 blocks with <= 6 differing bits... 6 < 4*2, so at
# least one block has <= 1 flip; we block on exact 16-bit equality,
# sound for distance <= 3; kept at <= 3 for exactness).
# ---------------------------------------------------------------------------
_BIN_HAM_MAX = 3
# bit i contributes 2^i; bit 63 contributes the two's-complement value
# so the packed signature is a plain signed BIGINT on both engines and
# no partial sum ever overflows (left-to-right fold peaks at 2^63 - 1).
_BIN_POWS = [1 << i for i in range(63)] + [-(1 << 63)]
_BIN_POWS_SQL = "[" + ", ".join(str(v) for v in _BIN_POWS) + "]"


@register(
    "embedding_binary_signature",
    oracle="""
    WITH bits AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS b
      FROM embeddings
    ),
    packed AS (
      SELECT vec_id,
             CAST(list_aggregate(
               list_transform(range(64),
                 i -> CASE WHEN b[i + 1] = 1
                      THEN {pows}[i + 1] ELSE 0 END),
               'sum') AS BIGINT) AS sig
      FROM bits
    ),
    blocked AS (
      SELECT vec_id, sig, u.blk, u.blk_val FROM packed,
      UNNEST([
        {{'blk': 0, 'blk_val': sig & 65535}},
        {{'blk': 1, 'blk_val': (sig >> 16) & 65535}},
        {{'blk': 2, 'blk_val': (sig >> 32) & 65535}},
        {{'blk': 3, 'blk_val': (sig >> 48) & 65535}}
      ]) AS t(u)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {hmax}
    """.format(pows=_BIN_POWS_SQL, hmax=_BIN_HAM_MAX),
)
def embedding_binary_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack sign bits row-locally (a 64-term integer fold against a
    literal powers array, exact on both engines), extract four 16-bit
    block keys (arithmetic shift + mask — identical after the mask),
    and equi-join on (block, value): a pair within Hamming distance 3
    differs in at most 3 of 4 blocks, so at least one block matches
    exactly — full recall at <= 3 with no pairwise scan. The
    xor+bit_count confirm prices only bucket collisions. Storage story:
    8 bytes/vector — RAM-resident at billions of vectors."""
    emb = _t(spark, sf_dir, "embeddings")

    # The 64-term literal powers array, fold and block structs are SQL
    # text, handed to the JVM in one F.expr each (a Column tree costs
    # ~130 py4j round trips).
    pows = ", ".join(f"{v}L" for v in _BIN_POWS)
    sig = F.expr(
        f"aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), array({pows}),"
        " (x, pw) -> CASE WHEN x >= 0 THEN pw ELSE CAST(0 AS BIGINT) END),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )
    structs = ", ".join(
        f"struct({k} AS blk, shiftright(sig, {16 * k}) & CAST(65535 AS BIGINT) AS blk_val)"
        for k in range(4)
    )
    blocks = F.expr(f"array({structs})")
    packed = emb.select("vec_id", sig.alias("sig"))
    blocked = packed.select("vec_id", "sig", F.explode(blocks).alias("u")).select(
        "vec_id", "sig", F.col("u.blk").alias("blk"), F.col("u.blk_val").alias("blk_val")
    )
    a = blocked.select(
        F.col("vec_id").alias("vec_a"), F.col("sig").alias("sig_a"), "blk", "blk_val"
    )
    b = blocked.select(
        F.col("vec_id").alias("vec_b"), F.col("sig").alias("sig_b"), "blk", "blk_val"
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["blk", "blk_val"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "sig_a", "sig_b")
        .distinct()
        .select("vec_a", "vec_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= _BIN_HAM_MAX)
    )


# ---------------------------------------------------------------------------
# Zipf slope of the corpus vocabulary: OLS fit of ln(freq) on ln(rank)
# — the macro health check of any text corpus (natural language sits
# near -1; templated or synthetic text drifts off).
# ---------------------------------------------------------------------------
def _ols_slope_quantized(pts: DataFrame, *, n_name: str, slope_name: str) -> DataFrame:
    """OLS slope of y on x with order-independent aggregation: quantize
    each point to integer micro-units, sum exactly in decimal(38,0)
    (cross-products reach ~2e18 at large vocab — past long range, never
    near decimal range), then finish in double on the exact sums. The
    1e6 scale cancels between numerator and denominator, so the slope
    formula applies to the quantized sums unchanged. Both x and y are
    nonnegative here (ln of rank/count >= 1), so floor(v*1e6+0.5) is
    round-half-up on both engines."""
    q = pts.select(
        F.floor(F.col("x") * 1.0e6 + F.lit(0.5)).cast("decimal(19,0)").alias("xq"),
        F.floor(F.col("y") * 1.0e6 + F.lit(0.5)).cast("decimal(19,0)").alias("yq"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    # Degenerate fits (single point, or constant x) have a zero
    # denominator: Spark double division would yield Inf/NaN while
    # DuckDB's semantics differ, so both sides agree on NULL instead
    # (the oracles mirror this with NULLIF(denominator, 0)).
    den = nd * sxx - sx * sx
    return s.select(
        F.col("n").alias(n_name),
        F.when(
            den != F.lit(0.0),
            F.floor((nd * sxy - sx * sy) / den * 1.0e6 + 0.5) / 1.0e6,
        ).alias(slope_name),
    )


@register(
    "vocab_zipf_slope",
    oracle="""
    WITH freq AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      GROUP BY t
    ),
    ranked AS (
      SELECT c,
             CAST(row_number() OVER (ORDER BY c DESC, t ASC) AS BIGINT) AS r
      FROM freq
    ),
    pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM ranked),
    ptsq AS (
      SELECT CAST(floor(x * 1.0e6 + 0.5) AS HUGEINT) AS xq,
             CAST(floor(y * 1.0e6 + 0.5) AS HUGEINT) AS yq
      FROM pts
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(xq) AS sx, sum(yq) AS sy,
             sum(xq * xq) AS sxx, sum(xq * yq) AS sxy
      FROM ptsq
    )
    SELECT n AS vocab_size,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6
             AS zipf_slope
    FROM s
    """,
)
def vocab_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ranks (count desc, term asc), libm ln on identical
    doubles, then each point's (ln r, ln c) quantized to integer
    micro-units BEFORE the OLS sums — so every aggregate is an exact
    integer sum whose value cannot depend on partition layout or core
    count (the repo-wide integer-exact invariant; summing raw doubles
    would let a .5 boundary flip the 6-dp floor on a different
    machine's partitioning). The scale factors cancel in the slope
    ratio, and the final double arithmetic runs on bit-identical
    inputs in both engines. Vocabulary ranks come from
    ranked_cumsum_two_pass (round 9 migration — Heaps-law sublinear,
    but still unbounded at corpus scale; the range-bucketed form never
    sorts the vocabulary in one task)."""
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(words_expr(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ranked = ranked_cumsum_two_pass(
        freq, "c", "t", out_rank="r", out_cum="__cum_unused",
    ).select("c", F.col("r").cast("long").alias("r"))
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    return _ols_slope_quantized(pts, n_name="vocab_size", slope_name="zipf_slope")


# ===========================================================================
# Staged wave 16 — completes a full 50-query round-5 slate
# ===========================================================================

# ---------------------------------------------------------------------------
# Isentropic compressibility kappa = -(dv/dP)/v from the same committed
# polynomial pieces as the CT-native sound speed; the rho*c^2*kappa = 1
# identity ties all three surfaces together in tests.
# ---------------------------------------------------------------------------
def _kappa_sql(sa: str, ct: str, p: str) -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import specvol_sql

    v = specvol_sql(sa, ct, p)
    dz = specvol_dz_sql(sa, ct, p)
    # dv/dP_pa = dv/dz * 1e-8  ->  kappa in 1/Pa
    return f"(-({dz})*1.0e-8/{v})"


def _kappa_oracle() -> str:
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    return f"""
    SELECT l_orderkey, l_linenumber,
           round({_kappa_sql("sa", "ct", "p")} * 1.0e12, 6) AS kappa_per_tpa
    FROM (
      SELECT l_orderkey, l_linenumber, p, {_SA_SQL} AS sa,
             {ct_from_t_sql("s", "t", "p")} AS ct
      FROM ({_IN_SQL})
    )
    """


@register("gsw_kappa", oracle=_kappa_oracle())
def gsw_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isentropic compressibility (1/Pa, ~4.1e-10 in the ocean) —
    emitted in 1e-12/Pa units so 6-dp rounding keeps ~6 significant
    digits. Zero shuffle, identical literal arithmetic both engines."""
    from cioos_siooc_data_transform_spark.functions.teos10 import ct_from_t_sql

    df = _inputs(spark, sf_dir)
    staged = df.select(
        "l_orderkey",
        "l_linenumber",
        "p",
        F.expr(_SA_SQL).alias("sa"),
        F.expr(ct_from_t_sql("s", "t", "p")).alias("ct"),
    )
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.expr(_kappa_sql("sa", "ct", "p")) * 1.0e12, 6).alias(
            "kappa_per_tpa"
        ),
    )


# ---------------------------------------------------------------------------
# Heaps' law fit: vocabulary growth V(n) ~ K * n^beta over the corpus in
# doc_id order — beta well below 1 is the expected sublinear growth;
# beta near 1 means unbounded novel-token production (noisy OCR, ids).
# ---------------------------------------------------------------------------
@register(
    "text_heaps_law_fit",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    first_seen AS (SELECT t, min(doc_id) AS fd FROM tok GROUP BY t),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id
    ),
    new_vocab AS (
      SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS n_new
      FROM first_seen GROUP BY fd
    ),
    cum AS (
      SELECT d.doc_id,
             CAST(sum(d.n_tok) OVER w AS BIGINT) AS n_cum,
             CAST(sum(COALESCE(v.n_new, 0)) OVER w AS BIGINT) AS v_cum
      FROM per_doc d LEFT JOIN new_vocab v ON v.doc_id = d.doc_id
      WINDOW w AS (ORDER BY d.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pts AS (
      SELECT ln(CAST(n_cum AS DOUBLE)) AS x, ln(CAST(v_cum AS DOUBLE)) AS y
      FROM cum WHERE v_cum > 0
    ),
    ptsq AS (
      SELECT CAST(floor(x * 1.0e6 + 0.5) AS HUGEINT) AS xq,
             CAST(floor(y * 1.0e6 + 0.5) AS HUGEINT) AS yq
      FROM pts
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(xq) AS sx, sum(yq) AS sy,
             sum(xq * xq) AS sxx, sum(xq * yq) AS sxy
      FROM ptsq
    )
    SELECT n AS n_points,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
                 * 1.0e6 + 0.5) / 1.0e6
             AS heaps_beta
    FROM s
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative vocabulary via the first-seen trick (word -> min doc,
    then one running sum — no distinct-over-window), cumulative tokens
    via the same window, OLS slope in log-log space rounded once. Two
    map-side-combinable aggs + one bounded window."""
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(words_expr(F.col("text"))).alias("t"))
    first_seen = tok.groupBy("t").agg(F.min("doc_id").alias("fd"))
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    new_vocab = first_seen.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    # Round-9 migration: the running sums are over |docs| rows, so the
    # doc_id-ordered global window would sort the corpus in ONE task.
    # multi_weighted_cumsum_two_pass gives both running sums (tokens
    # and new-vocab) from one range-bucketed two-pass ranking.
    from cioos_siooc_data_transform_spark.operators.windows import (
        multi_weighted_cumsum_two_pass,
    )

    joined = per_doc.join(new_vocab, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new0"),
    )
    cum = (
        multi_weighted_cumsum_two_pass(
            joined, "doc_id", "doc_id",
            weight_cols=["n_tok", "n_new0"], descending=False,
        )
        .select(
            "doc_id",
            F.col("cum_n_tok").cast("long").alias("n_cum"),
            F.col("cum_n_new0").cast("long").alias("v_cum"),
        )
        .filter(F.col("v_cum") > 0)
    )
    pts = cum.select(
        F.log(F.col("n_cum").cast("double")).alias("x"),
        F.log(F.col("v_cum").cast("double")).alias("y"),
    )
    return _ols_slope_quantized(pts, n_name="n_points", slope_name="heaps_beta")


# ---------------------------------------------------------------------------
# Gini concentration of customer revenue: the inequality summary behind
# the Pareto share curve — exact integer arithmetic until one final
# division (cents, deterministic ordering by (revenue, custkey)).
# ---------------------------------------------------------------------------
@register(
    "orders_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY cents ASC, o_custkey ASC)
                  AS BIGINT) AS i
      FROM rev
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS total,
             CAST(sum(i * cents) AS BIGINT) AS weighted
      FROM ranked
    )
    SELECT n AS n_customers,
           total AS total_cents,
           floor((2.0 * weighted / (n * 1.0 * total) - (n + 1.0) / n) * 1.0e6
                 + 0.5) / 1.0e6 AS gini
    FROM s
    """,
)
def orders_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over revenue sorted
    ascending with a custkey tiebreak — all three sums are exact BIGINTs
    (weighted <= n * max_cents * n ~ 1e17 at sf0.1, inside int64), so
    the coefficient is one rounded expression over identical integers.
    Ranks come from ranked_cumsum_two_pass (round 9 migration — the
    customer-level rollup scales with |customers|, so a global-order
    window would sort it in ONE task; the range-bucketed form splits it
    across ~512 bounded windows, same math as the migrated
    customer_gini_by_nation)."""
    from cioos_siooc_data_transform_spark.operators.windows import (
        ranked_cumsum_two_pass,
    )

    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = ranked_cumsum_two_pass(
        rev, "cents", "o_custkey",
        out_rank="i", out_cum="__cum_unused", ascending=True,
    ).select("cents", F.col("i").cast("long").alias("i"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("weighted"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        (
            F.floor(
                (
                    2.0 * F.col("weighted") / (F.col("n") * 1.0 * F.col("total"))
                    - (F.col("n") + 1.0) / F.col("n")
                )
                * 1.0e6
                + 0.5
            )
            / 1.0e6
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Simpson diversity of the vocabulary per language: D = sum c(c-1) /
# (N(N-1)) — the probability two random tokens are the same type.
# Exact integer rationals; the inverse (1/D) is the "effective
# vocabulary size" quality signal.
# ---------------------------------------------------------------------------
@register(
    "text_simpson_diversity",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    freq AS (
      SELECT lang, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY lang, t
    ),
    s AS (
      SELECT lang,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c * (c - 1)) AS BIGINT) AS coincide
      FROM freq GROUP BY lang
    )
    SELECT lang, n_tokens, vocab,
           floor(coincide * 1.0e9 / (n_tokens * 1.0 * (n_tokens - 1)) + 0.5)
             / 1.0e9 AS simpson_d
    FROM s WHERE n_tokens > 1
    """,
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language repeat-collision probability from exact integer
    counts (sum c(c-1) stays well inside int64 at any realistic corpus
    per-language token mass below ~3e9); one map-side-combinable
    (lang, token) agg then a bounded per-lang rollup."""
    from cioos_siooc_data_transform_spark.operators.dedup import words_expr

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(words_expr(F.col("text"))).alias("t"))
    freq = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    s = freq.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("coincide"),
    )
    return s.filter(F.col("n_tokens") > 1).select(
        "lang",
        "n_tokens",
        "vocab",
        (
            F.floor(
                F.col("coincide")
                * 1.0e9
                / (F.col("n_tokens") * 1.0 * (F.col("n_tokens") - 1))
                + 0.5
            )
            / 1.0e9
        ).alias("simpson_d"),
    )
