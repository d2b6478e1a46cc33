"""Driver-contract queries: one entry per implemented operator
(SURVEY.md §2), each with a DuckDB oracle SQL string.

Conventions that make the driver's order-insensitive value-hash compare
work (it sorts columns by name, then hashes values):

* every computed column is aliased IDENTICALLY in the Spark plan and the
  oracle SQL;
* doubles are rounded (6 dp for ratios, 2 dp for money) on BOTH sides;
* sums over integers/doubles go through DECIMAL arithmetic in both engines
  (exact, order-independent) before the final rounded DOUBLE cast —
  float-sum reordering across partitions can never flip a hash;
* DuckDB's SUM(BIGINT) returns HUGEINT → always CAST in the oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xmlschemavalidator_spark.checks.drift import histogram, ks_drift
from xmlschemavalidator_spark.checks.referential import referential_violation_counts
from xmlschemavalidator_spark.checks.stats import column_stats, distinct_counts, length_histogram
from xmlschemavalidator_spark.checks.uniqueness import duplicate_keys
from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
from xmlschemavalidator_spark.dedup import exact_duplicate_groups, jaccard_pairs
from xmlschemavalidator_spark.engine import ok_col_name, validate
from xmlschemavalidator_spark.flagship import documents_ruleset
from xmlschemavalidator_spark.rules.attributes import DefaultAttr, FixedAttr, RequiredAttr
from xmlschemavalidator_spark.rules.facets import (
    Enumeration,
    Length,
    MaxExclusive,
    MaxInclusive,
    MaxLength,
    MinExclusive,
    MinInclusive,
    MinLength,
    Pattern,
)
from xmlschemavalidator_spark.rules.structural import AllRule, ChoiceRule, SequenceRule
from xmlschemavalidator_spark.rules.types import PREDEF_TYPES, Restriction, Union
from xmlschemavalidator_spark.textops import _WS, lang_id, quality_features, token_count

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            # a duplicate silently SHADOWS the earlier query in the
            # driver's correctness sample — fail at import instead
            raise ValueError(f"duplicate driver query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ===========================================================================
# §2.1 value facets
# ===========================================================================

_LANG3 = ("en", "de", "sv")

@q(
    "facet_enumeration",
    """SELECT doc_id, 'lang_enum' AS rule_id, lang AS observed_value
       FROM documents
       WHERE NOT coalesce(lang = 'en' OR lang = 'de' OR lang = 'sv', FALSE)""",
)
def facet_enumeration(spark, sf_dir):
    """Enumeration facet (core.clj:43-44,58): violations of lang ∈ {en,de,sv}."""
    rs = RuleSet(rules=[FieldRule(
        "lang_enum", Restriction(facets=tuple(Enumeration(v) for v in _LANG3)), column="lang")])
    return validate(_t(spark, sf_dir, "documents"), rs, key="doc_id").violations


_RANGE_RULE = Restriction(base="integer", facets=(MinInclusive(100), MaxInclusive(400)))

@q(
    "facet_range",
    f"""SELECT doc_id, {_RANGE_RULE.sql_expr('n_chars', PREDEF_TYPES)} AS ok
        FROM documents""",
)
def facet_range(spark, sf_dir):
    """min/maxInclusive (core.clj:46-47,56-57) + integer base chain."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", _RANGE_RULE.to_column(F.col("n_chars"), PREDEF_TYPES).alias("ok")
    )


_EXCL_RULE = Restriction(facets=(MinExclusive(100), MaxExclusive(400)))

@q(
    "facet_range_exclusive",
    f"""SELECT doc_id, {_EXCL_RULE.sql_expr('n_chars', PREDEF_TYPES)} AS ok
        FROM documents""",
)
def facet_range_exclusive(spark, sf_dir):
    """min/maxExclusive (parser.clj:140-143, v2-only facets)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", _EXCL_RULE.to_column(F.col("n_chars"), PREDEF_TYPES).alias("ok")
    )


@q(
    "facet_pattern",
    """SELECT doc_id, regexp_full_match(CAST(source AS VARCHAR), 'src[0-9]') AS ok
       FROM documents""",
)
def facet_pattern(spark, sf_dir):
    """Anchored full-string pattern (core.clj:49-50): src0..src9 pass,
    src10..src19 FAIL (substring match would wrongly pass them)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", Pattern("src[0-9]").to_column(F.col("source")).alias("ok"))


_LEN_RULE = Restriction(facets=(MinLength(4), MaxLength(4)))

@q(
    "facet_length",
    """SELECT doc_id,
              (length(CAST(source AS VARCHAR)) = 4) AS len_ok,
              ((length(CAST(source AS VARCHAR)) >= 4) AND (length(CAST(source AS VARCHAR)) <= 4)) AS minmax_ok
       FROM documents""",
)
def facet_length(spark, sf_dir):
    """length / minLength / maxLength (parser.clj:144-149; spec semantics,
    v2's strict-> copy-paste bug deliberately not replicated)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        Length(4).to_column(F.col("source")).alias("len_ok"),
        _LEN_RULE.to_column(F.col("source"), PREDEF_TYPES).alias("minmax_ok"),
    )


# ===========================================================================
# §2.2 builtin type lattice
# ===========================================================================

@q(
    "type_lattice",
    f"""SELECT doc_id,
               {PREDEF_TYPES.resolve('byte').sql_expr('n_chars', PREDEF_TYPES)} AS byte_ok,
               {PREDEF_TYPES.resolve('short').sql_expr('n_chars', PREDEF_TYPES)} AS short_ok,
               {PREDEF_TYPES.resolve('int').sql_expr('n_chars', PREDEF_TYPES)} AS int_ok,
               {PREDEF_TYPES.resolve('positiveInteger').sql_expr('n_chars', PREDEF_TYPES)} AS pos_ok,
               {PREDEF_TYPES.resolve('string').sql_expr('lang', PREDEF_TYPES)} AS lang_is_string
        FROM documents""",
)
def type_lattice(spark, sf_dir):
    """Predefined type checks incl. derivation chains (core.clj:222-242)."""
    docs = _t(spark, sf_dir, "documents")
    n = F.col("n_chars")
    return docs.select(
        "doc_id",
        PREDEF_TYPES.resolve("byte").to_column(n, PREDEF_TYPES).alias("byte_ok"),
        PREDEF_TYPES.resolve("short").to_column(n, PREDEF_TYPES).alias("short_ok"),
        PREDEF_TYPES.resolve("int").to_column(n, PREDEF_TYPES).alias("int_ok"),
        PREDEF_TYPES.resolve("positiveInteger").to_column(n, PREDEF_TYPES).alias("pos_ok"),
        PREDEF_TYPES.resolve("string").to_column(F.col("lang"), PREDEF_TYPES).alias("lang_is_string"),
    )


# ===========================================================================
# §2.3 union (ordered first-success)
# ===========================================================================

_UNION = Union(
    members=(
        Restriction(base="integer", facets=(MinInclusive(100), MaxInclusive(400))),
        Restriction(base="string", facets=(Enumeration("en"), Enumeration("zh"))),
    )
)
_U_MIXED_SQL = "(CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS VARCHAR) ELSE lang END)"
_U_M0 = _UNION.members[0].sql_expr(_U_MIXED_SQL, PREDEF_TYPES)
_U_M1 = _UNION.members[1].sql_expr(_U_MIXED_SQL, PREDEF_TYPES)

@q(
    "type_union",
    f"""SELECT doc_id,
               ({_U_M0} OR {_U_M1}) AS ok,
               (CASE WHEN {_U_M0} THEN 0 WHEN {_U_M1} THEN 1 ELSE -1 END) AS matched_member
        FROM documents""",
)
def type_union(spark, sf_dir):
    """Union first-success over a dynamically-typed value (core.clj:75-78,
    95-107): even doc_ids present a number-like string, odd ones a lang."""
    docs = _t(spark, sf_dir, "documents")
    mixed = F.expr("CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS STRING) ELSE lang END")
    return docs.select(
        "doc_id",
        _UNION.to_column(mixed, PREDEF_TYPES).alias("ok"),
        _UNION.matched_member_column(mixed, PREDEF_TYPES).alias("matched_member"),
    )


_U_DETAIL = _UNION.verdict_struct_sql(_U_MIXED_SQL, PREDEF_TYPES)

@q(
    "type_union_detail",
    f"""SELECT doc_id,
               {_U_DETAIL['ok']} AS ok,
               {_U_DETAIL['matched_member']} AS matched_member,
               {_U_DETAIL['n_tried']} AS n_tried,
               {_U_DETAIL['last_value']} AS last_value
        FROM documents""",
)
def type_union_detail(spark, sf_dir):
    """Union failure detail (core.clj:75-78): the reference's try-chain
    returns the first passing member's verdict, or the LAST member's failing
    verdict with the observed value on total failure — surfaced as
    matched_member / n_tried / last_value columns; the oracle SQL is
    generated from the same member declarations (verdict_struct_sql)."""
    docs = _t(spark, sf_dir, "documents")
    mixed = F.expr("CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS STRING) ELSE lang END")
    v = _UNION.verdict_struct(mixed, PREDEF_TYPES)
    return docs.select(
        "doc_id",
        v["ok"].alias("ok"),
        v["matched_member"].alias("matched_member"),
        v["n_tried"].alias("n_tried"),
        v["last_value"].alias("last_value"),
    )


# ===========================================================================
# §2.5 attributes
# ===========================================================================

_DEFAULT_RULE = DefaultAttr(
    default="en",
    type=Restriction(facets=tuple(Enumeration(v) for v in ("en", "de", "fr", "zh"))),
)

@q(
    "attr_default",
    """SELECT doc_id,
              coalesce(nullif(lang, 'es'), 'en') AS decoded,
              (coalesce(nullif(lang, 'es'), 'en') = 'en'
               OR coalesce(nullif(lang, 'es'), 'en') = 'de'
               OR coalesce(nullif(lang, 'es'), 'en') = 'fr'
               OR coalesce(nullif(lang, 'es'), 'en') = 'zh') AS ok
       FROM documents""",
)
def attr_default(spark, sf_dir):
    """default= semantics (parser.clj:279-283): 'es' is nulled out, the
    default 'en' is validated AND reported as the decoded value."""
    docs = _t(spark, sf_dir, "documents")
    col = F.expr("nullif(lang, 'es')")
    return docs.select(
        "doc_id",
        _DEFAULT_RULE.decoded(col).alias("decoded"),
        _DEFAULT_RULE.to_column(col, PREDEF_TYPES).alias("ok"),
    )


@q(
    "attr_fixed",
    "SELECT doc_id, coalesce(source = 'src1', FALSE) AS ok FROM documents",
)
def attr_fixed(spark, sf_dir):
    """fixed= semantics (parser.clj:284-288): equality with the constant."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", FixedAttr("src1").to_column(F.col("source")).alias("ok"))


@q(
    "attr_required",
    """SELECT doc_id,
              (text IS NOT NULL
               AND text IS NOT NULL
               AND TRY_CAST(CAST(text AS VARCHAR) AS DOUBLE) IS NULL) AS ok
       FROM documents""",
)
def attr_required(spark, sf_dir):
    """use="required" + type check (parser.clj:289-293)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", RequiredAttr("string").to_column(F.col("text"), PREDEF_TYPES).alias("ok")
    )


# ===========================================================================
# §2.4 structural particles
# ===========================================================================

@q(
    "structural_presence",
    """SELECT doc_id,
              (doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL) AS seq_ok,
              (doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL) AS all_ok
       FROM documents""",
)
def structural_presence(spark, sf_dir):
    """sequence (order checked compile-time on the schema, core.clj:138-146)
    and all (order-insensitive, core.clj:161-171) over flat columns."""
    docs = _t(spark, sf_dir, "documents")
    seq = SequenceRule(("doc_id", "text", "lang"))
    seq.check_schema(docs)  # compile-time order verification
    return docs.select(
        "doc_id",
        seq.to_column().alias("seq_ok"),
        AllRule(("doc_id", "text", "lang")).to_column().alias("all_ok"),
    )


@q(
    "structural_choice",
    """SELECT doc_id,
              ((CAST(text IS NOT NULL AS INT)
                + CAST((CASE WHEN lang = 'en' THEN source END) IS NOT NULL AS INT)) = 1) AS ok
       FROM (SELECT doc_id, text, lang, source FROM documents)""",
)
def structural_choice(spark, sf_dir):
    """choice: exactly one of N non-null (core.clj:150-159) — 'en' docs have
    both variants populated and must FAIL."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.expr("CASE WHEN lang = 'en' THEN source END").alias("b")
    )
    return docs.select("doc_id", ChoiceRule(("text", "b")).to_column().alias("ok"))


# ===========================================================================
# engine end-to-end (decode / valid? / violations analogues)
# ===========================================================================

_DOC_RS_SQL = {
    "lang_enum": "coalesce(lang = 'en' OR lang = 'de' OR lang = 'sv' OR lang = 'fr' OR lang = 'zh', FALSE)",
    "chars_range": (
        "(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) IS NOT NULL"
        " AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) = floor(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE))"
        " AND coalesce(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) >= 36.0, FALSE)"
        " AND coalesce(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) <= 4200.0, FALSE))"
    ),
    "source_pattern": "coalesce(regexp_full_match(CAST(source AS VARCHAR), 'src[0-9]+'), FALSE)",
    "text_required": "(text IS NOT NULL)",
    "nchars_consistent": "coalesce(n_chars = length(text), FALSE)",
}

@q(
    "verdicts_wide",
    f"""SELECT doc_id,
               {_DOC_RS_SQL['lang_enum']} AS rule_lang_enum_ok,
               {_DOC_RS_SQL['chars_range']} AS rule_chars_range_ok,
               {_DOC_RS_SQL['source_pattern']} AS rule_source_pattern_ok,
               {_DOC_RS_SQL['text_required']} AS rule_text_required_ok,
               {_DOC_RS_SQL['nchars_consistent']} AS rule_nchars_consistent_ok,
               ({' AND '.join(_DOC_RS_SQL.values())}) AS _doc_ok
        FROM documents""",
)
def verdicts_wide(spark, sf_dir):
    """Full documents ruleset as wide per-row verdict columns — the
    reference's decode-with-status-metadata (core.clj:263-276)."""
    res = validate(_t(spark, sf_dir, "documents"), documents_ruleset(), key="doc_id")
    cols = ["doc_id"] + [ok_col_name(r) for r in documents_ruleset().rule_ids()] + ["_doc_ok"]
    return res.verdicts.select(*cols)


_VIOL_ORACLE = " UNION ALL ".join(
    f"SELECT doc_id, '{rid}' AS rule_id, CAST({obs} AS VARCHAR) AS observed_value "
    f"FROM documents WHERE NOT {sql}"
    for rid, sql, obs in [
        ("lang_enum", _DOC_RS_SQL["lang_enum"], "lang"),
        ("chars_range", _DOC_RS_SQL["chars_range"], "n_chars"),
        ("source_pattern", _DOC_RS_SQL["source_pattern"], "source"),
        ("text_required", _DOC_RS_SQL["text_required"], "text"),
        ("nchars_consistent", _DOC_RS_SQL["nchars_consistent"], "n_chars"),
    ]
)

@q("violations_long", _VIOL_ORACLE)
def violations_long(spark, sf_dir):
    """Long violation rows (key, rule_id, observed_value) for the full
    documents ruleset — the verdict-tree-as-table rendering."""
    return validate(_t(spark, sf_dir, "documents"), documents_ruleset(), key="doc_id").violations


@q(
    "validation_summary",
    f"""SELECT rule_id, CAST(count(*) AS BIGINT) AS n_violations
        FROM ({_VIOL_ORACLE}) GROUP BY rule_id""",
)
def validation_summary(spark, sf_dir):
    """Per-rule violation counts — the dataset-level valid? report."""
    v = validate(_t(spark, sf_dir, "documents"), documents_ruleset(), key="doc_id").violations
    return v.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n_violations"))


# ===========================================================================
# dataset-level checks (§2.7)
# ===========================================================================

@q(
    "column_stats",
    """SELECT * FROM (
         SELECT 'lang' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                round(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS null_rate,
                CAST(min(lang) AS VARCHAR) AS min_value, CAST(max(lang) AS VARCHAR) AS max_value,
                round(avg(length(CAST(lang AS VARCHAR))), 6) AS avg_length
         FROM documents
         UNION ALL
         SELECT 'source', CAST(count(*) AS BIGINT),
                CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                round(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6),
                CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR),
                round(avg(length(CAST(source AS VARCHAR))), 6)
         FROM documents
         UNION ALL
         SELECT 'n_chars', CAST(count(*) AS BIGINT),
                CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                round(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6),
                CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR),
                round(avg(length(CAST(n_chars AS VARCHAR))), 6)
         FROM documents
       )""",
)
def column_stats_q(spark, sf_dir):
    """Single-pass per-column stats (null-rate/min/max/mean-length)."""
    return column_stats(_t(spark, sf_dir, "documents"), ["lang", "source", "n_chars"])


@q(
    "distinct_exact",
    """SELECT * FROM (
         SELECT 'lang' AS "column", CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct FROM documents
         UNION ALL
         SELECT 'source', CAST(count(DISTINCT source) AS BIGINT) FROM documents
       )""",
)
def distinct_exact(spark, sf_dir):
    """Distinct counts (exact mode; production path is HLL++ sketches —
    see distinct_approx, rows-only checked)."""
    return distinct_counts(_t(spark, sf_dir, "documents"), ["lang", "source"], exact=True)


@q("distinct_approx")  # no oracle: HLL estimate is engine-specific
def distinct_approx(spark, sf_dir):
    return distinct_counts(_t(spark, sf_dir, "documents"), ["lang", "source", "text"])


@q(
    "length_histogram",
    """SELECT CAST(floor(length(text) / 100) AS BIGINT) AS bucket,
              CAST(floor(length(text) / 100) * 100 AS BIGINT) AS bucket_lo,
              CAST(count(*) AS BIGINT) AS n
       FROM documents GROUP BY 1, 2""",
)
def length_histogram_q(spark, sf_dir):
    return length_histogram(_t(spark, sf_dir, "documents"), "text", 100)


@q(
    "heavy_hitters_lang",
    """SELECT value, n, share FROM (
         SELECT lang AS value, CAST(count(*) AS BIGINT) AS n,
                CAST(round(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE), 6) AS DOUBLE) AS share
         FROM documents GROUP BY lang
         ORDER BY n DESC, value LIMIT 5)""",
)
def heavy_hitters_lang(spark, sf_dir):
    """Frequent-values data-quality check: top-k values of a column with
    their row share (a value suddenly dominating a column is a classic
    upstream bug). Exact path: partial+final count agg + top-k (never a
    global sort); deterministic ties."""
    from xmlschemavalidator_spark.checks.stats import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "documents"), "lang", k=5)


@q(
    "uniqueness_duplicates",
    """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS dup_count
       FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1""",
)
def uniqueness_duplicates(spark, sf_dir):
    """Salted two-phase duplicate detection == plain group-count."""
    return duplicate_keys(_t(spark, sf_dir, "lineitem"), ["l_orderkey"], salted=True)


@q(
    "referential_orders_customer",
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
       FROM orders WHERE o_custkey IS NULL
          OR o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
       GROUP BY o_custkey""",
)
def referential_orders_customer(spark, sf_dir):
    """Broadcast anti-join referential check (orders → customer)."""
    return referential_violation_counts(
        _t(spark, sf_dir, "orders"), "o_custkey", _t(spark, sf_dir, "customer"), "c_custkey",
        strategy="broadcast",
    )


@q(
    "referential_events_customer",
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n
       FROM events WHERE user_id IS NULL
          OR user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
       GROUP BY user_id""",
)
def referential_events_customer(spark, sf_dir):
    """Shuffle-hash variant of the referential check (events → customer)."""
    return referential_violation_counts(
        _t(spark, sf_dir, "events"), "user_id", _t(spark, sf_dir, "customer"), "c_custkey",
        strategy="shuffle_hash",
    )


# Planted-orphan variants: the clean testdata has zero referential
# violations, so the plain checks match their oracles on 0 rows — which is
# no evidence at all (CLAUDE.md rule). These union a deterministic handful
# of orphan keys into the fact side so the anti-join provably FIRES and the
# per-key counts are value-checked, not just trivially empty.

_PLANTED_ORPHAN_CUSTKEYS = (-1, -1, -1, -2, -2, -3)
_PLANTED_ORPHAN_USERIDS = (-10, -10, -10, -10, -11)


@q(
    "referential_orders_planted",
    f"""WITH fact AS (
         SELECT o_custkey FROM orders
         UNION ALL
         SELECT CAST(v AS BIGINT) AS o_custkey
         FROM (VALUES {', '.join(f'({k})' for k in _PLANTED_ORPHAN_CUSTKEYS)}) t(v)
       )
       SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
       FROM fact WHERE o_custkey IS NULL
          OR o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
       GROUP BY o_custkey""",
)
def referential_orders_planted(spark, sf_dir):
    """Broadcast anti-join referential check with planted orphans (nonzero
    by construction: counts 3/2/1 on keys -1/-2/-3 plus any real orphans)."""
    planted = spark.createDataFrame(
        [(k,) for k in _PLANTED_ORPHAN_CUSTKEYS], "o_custkey bigint")
    fact = _t(spark, sf_dir, "orders").select("o_custkey").unionByName(planted)
    return referential_violation_counts(
        fact, "o_custkey", _t(spark, sf_dir, "customer"), "c_custkey",
        strategy="broadcast",
    )


@q(
    "referential_events_planted",
    f"""WITH fact AS (
         SELECT user_id FROM events
         UNION ALL
         SELECT CAST(v AS BIGINT) AS user_id
         FROM (VALUES {', '.join(f'({k})' for k in _PLANTED_ORPHAN_USERIDS)}) t(v)
       )
       SELECT user_id, CAST(count(*) AS BIGINT) AS n
       FROM fact WHERE user_id IS NULL
          OR user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
       GROUP BY user_id""",
)
def referential_events_planted(spark, sf_dir):
    """Shuffle-hash referential check with planted orphans (events → customer)."""
    planted = spark.createDataFrame(
        [(k,) for k in _PLANTED_ORPHAN_USERIDS], "user_id bigint")
    fact = _t(spark, sf_dir, "events").select("user_id").unionByName(planted)
    return referential_violation_counts(
        fact, "user_id", _t(spark, sf_dir, "customer"), "c_custkey",
        strategy="shuffle_hash",
    )


@q(
    "ks_drift_lang",
    """WITH cur AS (
         SELECT CAST(floor(n_chars / 50) AS BIGINT) AS bucket, count(*) AS n_cur
         FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1
       ), base AS (
         SELECT CAST(floor(n_chars / 50) AS BIGINT) AS bucket, count(*) AS n_base
         FROM documents WHERE lang <> 'en' AND n_chars IS NOT NULL GROUP BY 1
       ), j AS (
         SELECT coalesce(cur.bucket, base.bucket) AS bucket,
                coalesce(n_cur, 0) AS n_cur, coalesce(n_base, 0) AS n_base
         FROM cur FULL OUTER JOIN base ON cur.bucket = base.bucket
       ), c AS (
         SELECT sum(n_cur) OVER (ORDER BY bucket) * 1.0 / sum(n_cur) OVER () AS cdf_cur,
                sum(n_base) OVER (ORDER BY bucket) * 1.0 / sum(n_base) OVER () AS cdf_base
         FROM j
       )
       SELECT round(max(abs(cdf_cur - cdf_base)), 6) AS ks_stat FROM c""",
)
def ks_drift_lang(spark, sf_dir):
    """Exact histogram-CDF KS statistic: en vs non-en n_chars distributions."""
    docs = _t(spark, sf_dir, "documents")
    cur = histogram(docs.where(F.col("lang") == "en"), "n_chars", 50)
    base = histogram(docs.where(F.col("lang") != "en"), "n_chars", 50)
    return ks_drift(cur, base).select(F.round("ks_stat", 6).alias("ks_stat"))


# ===========================================================================
# relational workloads (agg / join / window) — Catalyst bread-and-butter
# ===========================================================================

@q(
    "agg_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
              CAST(round(avg(CAST(l_quantity AS DECIMAL(18,2))), 6) AS DOUBLE) AS avg_qty,
              CAST(count(*) AS BIGINT) AS count_order
       FROM lineitem GROUP BY l_returnflag, l_linestatus""",
)
def agg_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped aggregate: exact DECIMAL arithmetic so hashes are
    partition-order independent; partial+final hash agg, one shuffle of
    (flag,status) groups."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
        F.round(F.sum(price * (F.lit(1) - disc)), 2).cast("double").alias("sum_disc_price"),
        F.round(F.avg(qty), 6).cast("double").alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@q(
    "join_broadcast_dims",
    """SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers
       FROM customer JOIN nation ON c_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name""",
)
def join_broadcast_dims(spark, sf_dir):
    """Star join through two broadcast dims — no fact-side shuffle."""
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@q(
    "join_revenue_segment",
    """SELECT c_mktsegment,
              CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
              CAST(count(*) AS BIGINT) AS n_orders
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment""",
)
def join_revenue_segment(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@q(
    "window_daily_events",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
              CAST(count(*) AS BIGINT) AS n,
              CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2""",
)
def window_daily_events(spark, sf_dir):
    """Tumbling daily windows over the events table (batch form of the
    streaming windowed aggregation — see streaming/)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2).cast("double").alias("total_value"),
    )


@q(
    "window_first_event",
    """SELECT user_id, event_id AS first_event_id FROM (
         SELECT user_id, event_id,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events
       ) WHERE rn = 1""",
)
def window_first_event(spark, sf_dir):
    """Analytic window function: first event per user (deterministic
    tie-break on event_id)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("first_event_id"))
    )


# ===========================================================================
# text analysis / dedup / similarity (training-data ops)
# ===========================================================================

@q(
    "text_token_count",
    """SELECT doc_id,
              CAST(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_tokens
       FROM documents""",
)
def text_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


@q(
    "text_quality",
    """SELECT doc_id,
              round(CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
                    ELSE 0 END, 6) AS alpha_ratio,
              round(CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text)
                    ELSE 0 END, 6) AS punct_ratio
       FROM documents""",
)
def text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(feats["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
    )


_LANGID_SQL_SCORES = {
    "de": "['der','die','das','und','ist','nicht','ein','mit','auf','zu']",
    "en": "['the','and','of','to','in','is','that','it','was','for']",
    "es": "['el','la','los','de','que','y','es','en','un','por']",
    "fr": "['le','la','les','et','est','pas','une','pour','dans','que']",
    "sv": "['och','att','det','som','en','av','är','den','till','med']",
}
_LANGID_SCORE_EXPRS = ", ".join(
    f"len(list_filter(string_split_regex(trim(coalesce(text,'')), '\\s+'), x -> list_contains({arr}, lower(x)))) AS s_{lang}"
    for lang, arr in _LANGID_SQL_SCORES.items()
)

@q(
    "text_lang_id",
    f"""WITH s AS (SELECT doc_id, {_LANGID_SCORE_EXPRS} FROM documents)
        SELECT doc_id,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_sv) <= 0 THEN 'und'
                    WHEN s_de >= greatest(s_en, s_es, s_fr, s_sv) THEN 'de'
                    WHEN s_en >= greatest(s_es, s_fr, s_sv) THEN 'en'
                    WHEN s_es >= greatest(s_fr, s_sv) THEN 'es'
                    WHEN s_fr >= s_sv THEN 'fr'
                    ELSE 'sv' END AS lang_pred
        FROM s""",
)
def text_lang_id(spark, sf_dir):
    """Stopword-heuristic language ID; the oracle reproduces the exact
    earliest-code tie-break of the reduce in textops.lang_id."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


@q(
    "dedup_exact_groups",
    rf"""SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs FROM (
         SELECT md5(lower(regexp_replace(trim(coalesce(text, '')), '{_WS}+', ' ', 'g'))) AS fingerprint
         FROM documents
       ) GROUP BY fingerprint HAVING count(*) > 1""",
)
def dedup_exact_groups(spark, sf_dir):
    return exact_duplicate_groups(_t(spark, sf_dir, "documents"), "doc_id").select(
        "fingerprint", "n_docs"
    )


@q(
    "dedup_exact_groups_planted",
    rf"""SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs FROM (
          SELECT md5(lower(regexp_replace(trim(coalesce(text, '')), '{_WS}+', ' ', 'g'))) AS fingerprint
          FROM (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000000 AS doc_id, text
            FROM documents WHERE doc_id % 100 = 0
          )
        ) GROUP BY fingerprint HAVING count(*) > 1""",
)
def dedup_exact_groups_planted(spark, sf_dir):
    """Exact-dup grouping with planted duplicates: re-id every 100th doc and
    union it back, so the fingerprint groupBy provably fires on REAL corpus
    text (≥5 groups at sf0.01) — the value-level fingerprint parity the
    clean-corpus variant can't evidence (it matches on 0 rows)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.where(F.col("doc_id") % 100 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000000))
    return exact_duplicate_groups(docs.unionByName(dup), "doc_id").select(
        "fingerprint", "n_docs"
    )


_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(sl)) AS shingle, len(list_distinct(sl)) AS n_sh
  FROM (
    SELECT doc_id,
           CASE WHEN len(string_split_regex(trim(coalesce(text,'')), '\\s+')) < 3 THEN []
           ELSE list_transform(
             range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
             i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')
           ) END AS sl
    FROM documents
  ) WHERE len(sl) > 0
), sizes AS (SELECT DISTINCT doc, n_sh FROM sh),
common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(common * 1.0 / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common JOIN sizes sa ON sa.doc = id_a JOIN sizes sb ON sb.doc = id_b
WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= {thr}
"""

@q("ngram_jaccard_pairs", _JACCARD_SQL.format(thr=0.12))
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact token-3-gram Jaccard pairs via shingle inverted index."""
    return jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", shingle_n=3, threshold=0.12,
        max_posting=100000,
    )


_CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS ({_JACCARD_SQL.format(thr=0.12)}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(doc, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.doc
)
SELECT doc, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY doc
"""

@q("dedup_clusters", _CLUSTER_ORACLE)
def dedup_clusters(spark, sf_dir):
    """Near-dup connected components: Spark min-label propagation vs a
    DuckDB recursive-CTE transitive closure — an oracle-checked iterative
    algorithm."""
    from xmlschemavalidator_spark.dedup import near_duplicate_clusters

    pairs = jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", shingle_n=3, threshold=0.12,
        max_posting=100000,
    )
    return near_duplicate_clusters(pairs)


@q("dedup_clusters_star", _CLUSTER_ORACLE)
def dedup_clusters_star(spark, sf_dir):
    """Same components, different algorithm: alternating large-star/
    small-star contraction (Kiveris SoCC'14) vs the same DuckDB
    recursive-CTE transitive closure — O(log²) rounds instead of
    O(diameter), the hub-heavy-graph scale path (SCALE.md has measured
    rounds/throughput)."""
    from xmlschemavalidator_spark.dedup import alternating_star_clusters

    pairs = jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", shingle_n=3, threshold=0.12,
        max_posting=100000,
    )
    return alternating_star_clusters(pairs)


# ---------------------------------------------------------------------------
# data-recipe ops: deterministic sampling / mixing / token budgeting
# ---------------------------------------------------------------------------

def _sampling_sql_bits():
    from xmlschemavalidator_spark.sampling import md5_threshold, sample_key_sql

    return md5_threshold, sample_key_sql


_S_THRESH, _S_KEY = _sampling_sql_bits()

@q(
    "sample_deterministic",
    f"""SELECT doc_id, lang FROM documents
        WHERE {_S_KEY('doc_id', 'sample')} < '{_S_THRESH(0.2)}'""",
)
def sample_deterministic(spark, sf_dir):
    """Content-addressed 20% sample: membership = md5(salt:id) < threshold,
    a pure narrow filter — stable across runs/retries/engines (a rand()
    sample re-drawn after a failed stage silently changes the corpus).
    The oracle runs the IDENTICAL predicate in DuckDB: exact id parity,
    not just calibration."""
    from xmlschemavalidator_spark.sampling import deterministic_sample

    docs = _t(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.2).select("doc_id", "lang")


_MIX = {"en": 1.0, "de": 0.3, "sv": 0.1}

@q(
    "sample_stratified_mix",
    f"""SELECT doc_id, lang FROM documents
        WHERE {_S_KEY('doc_id', 'mix')} <
              CASE lang WHEN 'en' THEN '{_S_THRESH(1.0)}'
                        WHEN 'de' THEN '{_S_THRESH(0.3)}'
                        WHEN 'sv' THEN '{_S_THRESH(0.1)}'
                        ELSE '{_S_THRESH(0.02)}' END""",
)
def sample_stratified_mix(spark, sf_dir):
    """Corpus mixing: per-language keep fractions (all en, 30% de, 10% sv,
    2% rest) via the same content-addressed predicate — the recipe layer
    of a training pipeline, exact to the oracle per id."""
    from xmlschemavalidator_spark.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", _MIX, default_fraction=0.02, salt="mix"
    ).select("doc_id", "lang")


@q(
    "token_budget_per_lang",
    """SELECT doc_id, lang, n_chars FROM (
         SELECT doc_id, lang, n_chars,
                SUM(n_chars) OVER (PARTITION BY lang
                                   ORDER BY n_chars DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_chars
                  AS spent_before
         FROM documents)
       WHERE spent_before < 40000""",
)
def token_budget_per_lang(spark, sf_dir):
    """Token budgeting: keep the largest docs per language until each
    language has spent a 40k-char budget (first-to-exceed row included,
    ties broken by id — fully deterministic). The published pipeline
    order is filter → budget; the window sorts only within bounded
    language groups."""
    from xmlschemavalidator_spark.sampling import token_budget_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return token_budget_select(
        docs, "doc_id", "lang", "n_chars", budget=40000
    )


# planted boilerplate so the line-dedup queries have guaranteed non-empty
# results (the synthetic corpus has no natural newline-duplicated lines;
# CLAUDE.md: never accept a 0-row oracle match as evidence)
_BOILER_A = "ACCEPT ALL COOKIES TO CONTINUE READING THIS PAGE"
_BOILER_B = "subscribe to our newsletter for more articles like this"
_LINES_TX_SQL = (
    "(coalesce(text, '')"
    f" || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '{_BOILER_A}' ELSE '' END"
    f" || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '{_BOILER_B}' ELSE '' END)"
)
_LINES_L_SQL = f"""
t AS (SELECT doc_id, {_LINES_TX_SQL} AS tx FROM documents),
l AS (SELECT doc_id,
             unnest(list_transform(string_split(tx, chr(10)), x -> trim(x))) AS lnorm
      FROM t)"""


def _planted_lines_df(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tx = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("\n"), F.lit(_BOILER_A))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("\n"), F.lit(_BOILER_B))).otherwise(F.lit("")),
    )
    return docs.select("doc_id", tx.alias("text"))


@q(
    "corpus_duplicate_lines",
    f"""WITH {_LINES_L_SQL}
       SELECT md5(lnorm) AS line_md5,
              min(lnorm) AS line,
              CAST(COUNT(*) AS BIGINT) AS n_occurrences,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM l
       WHERE length(lnorm) >= 15
       GROUP BY md5(lnorm)
       HAVING COUNT(DISTINCT doc_id) >= 2""",
)
def corpus_duplicate_lines(spark, sf_dir):
    """C4-style cross-corpus duplicated-line detection (the boilerplate
    table): trimmed lines >= 15 chars appearing in >= 2 distinct docs.
    Boilerplate is planted deterministically (docs %3 / %5) so the check
    exercises multi-doc counting; md5 keys make the DuckDB oracle
    bit-exact."""
    from xmlschemavalidator_spark.dedup import duplicate_lines

    return duplicate_lines(_planted_lines_df(spark, sf_dir), "doc_id")


@q(
    "corpus_line_dedup_stats",
    f"""WITH {_LINES_L_SQL},
       d AS (SELECT md5(lnorm) AS m FROM l WHERE length(lnorm) >= 15
             GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2)
       SELECT doc_id AS doc,
              CAST(COUNT(*) AS BIGINT) AS n_lines,
              CAST(SUM(CASE WHEN length(lnorm) >= 15
                             AND md5(lnorm) IN (SELECT m FROM d)
                        THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
       FROM l GROUP BY doc_id""",
)
def corpus_line_dedup_stats(spark, sf_dir):
    """Per-doc effect of C4 line removal: (doc, n_lines, n_kept) computed
    by the same internals as drop_duplicate_lines — boilerplate lines are
    deleted from EVERY doc, short lines always survive."""
    from xmlschemavalidator_spark.dedup import line_dedup_stats

    return line_dedup_stats(_planted_lines_df(spark, sf_dir), "doc_id")


_DECON_N = 8
_DECON_GRAMS_SQL = f"""
toks AS (SELECT doc_id,
                list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                            x -> x <> '') AS arr
         FROM documents),
grams AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(
                     range(1, greatest(len(arr) - {_DECON_N} + 1, 0) + 1),
                     i -> array_to_string(list_slice(arr, i, i + {_DECON_N} - 1), ' ')))) AS g
          FROM toks)"""

@q(
    "decontamination_overlap",
    f"""WITH {_DECON_GRAMS_SQL},
       bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
       SELECT g2.doc_id AS doc,
              CAST(COUNT(DISTINCT g2.g) AS BIGINT) AS n_matched_ngrams
       FROM grams g2 JOIN bench USING (g)
       GROUP BY g2.doc_id""",
)
def decontamination_overlap(spark, sf_dir):
    """Benchmark decontamination scan (GPT-3 appendix-C style n-gram
    overlap, 8-grams here for the short synthetic docs): benchmark = every
    50th doc; output = docs sharing at least one benchmark n-gram with the
    count of distinct shared grams. Benchmark docs match themselves by
    construction — the pipeline's drop policy decides what to do with
    them (drop_contaminated)."""
    from xmlschemavalidator_spark.dedup import contamination_matches

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return contamination_matches(docs, "doc_id", bench, ngram=_DECON_N)


@q(
    "lines_within_doc_dedup",
    f"""WITH t AS (
         SELECT doc_id,
                string_split({_LINES_TX_SQL} || chr(10) || {_LINES_TX_SQL}, chr(10)) AS ls
         FROM documents)
       SELECT doc_id,
              array_to_string(
                list_transform(
                  list_filter(range(1, len(ls) + 1),
                              i -> list_position(ls, ls[i]) = i),
                  i -> ls[i]),
                chr(10)) AS deduped
       FROM t""",
)
def lines_within_doc_dedup(spark, sf_dir):
    """Intra-document repeated-line removal (first occurrence kept, order
    preserved): input = each doc's text concatenated with itself line-wise
    (so every line repeats — the dedup must reconstruct the original
    shape). Spark = one narrow HOF; oracle = the same first-position
    filter in DuckDB list functions."""
    from xmlschemavalidator_spark.dedup import dedup_lines_within_doc

    base = _planted_lines_df(spark, sf_dir)
    doubled = base.select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), F.col("text")).alias("text"),
    )
    return doubled.select(
        "doc_id", dedup_lines_within_doc(F.col("text")).alias("deduped")
    )


@q("minhash_lsh_pairs")  # no oracle: xxhash64 signatures are Spark-specific
def minhash_lsh_pairs(spark, sf_dir):
    from xmlschemavalidator_spark.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_t(spark, sf_dir, "documents"), "doc_id")


_SPAN_K = 8
_SPAN_BOILER = "subscribe to our newsletter for daily updates and special offers"


@q(
    "corpus_duplicate_spans",
    f"""WITH t AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(trim(coalesce(text2, '')), '\\s+'),
                            x -> x <> '') AS arr
         FROM (SELECT doc_id,
                      text || CASE WHEN doc_id % 7 = 0
                                   THEN ' {_SPAN_BOILER}' ELSE '' END AS text2
               FROM documents)),
       win AS (
         SELECT doc_id,
                CAST(unnest(range(0, greatest(len(arr) - {_SPAN_K - 1}, 0))) AS INT) AS pos,
                unnest(list_transform(range(0, greatest(len(arr) - {_SPAN_K - 1}, 0)),
                       i -> array_to_string(arr[i + 1:i + {_SPAN_K}], ' '))) AS wtext
         FROM t),
       occ AS (
         SELECT doc_id, pos,
                count(*) OVER (PARTITION BY wtext) AS n,
                row_number() OVER (PARTITION BY wtext ORDER BY doc_id, pos) AS rn
         FROM win),
       dup AS (SELECT doc_id, pos FROM occ WHERE n >= 2 AND rn > 1),
       tokrows AS (
         SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) - 1 AS j
         FROM t),
       removed AS (
         SELECT DISTINCT tr.doc_id, tr.j
         FROM tokrows tr
         JOIN dup d ON tr.doc_id = d.doc_id
                   AND tr.j >= d.pos AND tr.j < d.pos + {_SPAN_K}),
       kept AS (
         SELECT tk.doc_id, tk.tok, tk.j
         FROM tokrows tk
         LEFT JOIN removed r ON tk.doc_id = r.doc_id AND tk.j = r.j
         WHERE r.j IS NULL)
       SELECT t.doc_id,
              coalesce(string_agg(k.tok, ' ' ORDER BY k.j), '') AS clean_text,
              CAST(len(t.arr) - count(k.j) AS BIGINT) AS n_removed_tokens
       FROM t LEFT JOIN kept k USING (doc_id)
       GROUP BY t.doc_id, len(t.arr)""",
)
def corpus_duplicate_spans(spark, sf_dir):
    """ExactSubstr-style duplicate-span removal (Lee et al. 2022): an
    8-token boilerplate sentence is planted on every 7th doc IN BOTH
    ENGINES; every non-first occurrence of any corpus-duplicated 8-token
    window is stripped. The oracle rebuilds the whole pass independently
    (window texts + rank + interval anti-join) and the hash covers the
    cleaned text byte-for-byte."""
    from xmlschemavalidator_spark.dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" " + _SPAN_BOILER)).otherwise(
                F.lit("")
            ),
        ),
    )
    out = remove_duplicate_spans(docs, "doc_id", k=_SPAN_K, portable=True)
    return out.select(
        F.col("doc").alias("doc_id"), "clean_text", "n_removed_tokens"
    )


_DECON_SENT = "what is the capital of france paris is the answer"


@q(
    "span_decontamination",
    f"""WITH bench AS (SELECT '{_DECON_SENT}' AS btext),
       bw AS (
         SELECT DISTINCT unnest(list_transform(
                  range(0, greatest(len(barr) - {_SPAN_K - 1}, 0)),
                  i -> array_to_string(barr[i + 1:i + {_SPAN_K}], ' '))) AS wtext
         FROM (SELECT list_filter(regexp_split_to_array(trim(btext), '\\s+'),
                                  x -> x <> '') AS barr FROM bench)),
       t AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(trim(coalesce(text2, '')), '\\s+'),
                            x -> x <> '') AS arr
         FROM (SELECT doc_id,
                      text || CASE WHEN doc_id % 9 = 0
                                   THEN ' {_DECON_SENT}' ELSE '' END AS text2
               FROM documents)),
       win AS (
         SELECT doc_id,
                CAST(unnest(range(0, greatest(len(arr) - {_SPAN_K - 1}, 0))) AS INT) AS pos,
                unnest(list_transform(range(0, greatest(len(arr) - {_SPAN_K - 1}, 0)),
                       i -> array_to_string(arr[i + 1:i + {_SPAN_K}], ' '))) AS wtext
         FROM t),
       hits AS (
         SELECT win.doc_id, win.pos FROM win JOIN bw USING (wtext)),
       tokrows AS (
         SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) - 1 AS j
         FROM t),
       removed AS (
         SELECT DISTINCT tr.doc_id, tr.j
         FROM tokrows tr
         JOIN hits h ON tr.doc_id = h.doc_id
                    AND tr.j >= h.pos AND tr.j < h.pos + {_SPAN_K}),
       kept AS (
         SELECT tk.doc_id, tk.tok, tk.j
         FROM tokrows tk
         LEFT JOIN removed r ON tk.doc_id = r.doc_id AND tk.j = r.j
         WHERE r.j IS NULL)
       SELECT t.doc_id,
              coalesce(string_agg(k.tok, ' ' ORDER BY k.j), '') AS clean_text,
              CAST(len(t.arr) - count(k.j) AS BIGINT) AS n_removed_tokens
       FROM t LEFT JOIN kept k USING (doc_id)
       GROUP BY t.doc_id, len(t.arr)""",
)
def span_decontamination(spark, sf_dir):
    """Span-level decontamination (GPT-3 appendix style): a benchmark
    sentence is planted on every 9th doc IN BOTH ENGINES; only the
    benchmark-overlapping 8-token windows are stripped, the rest of each
    doc survives byte-identical (hash covers the cleaned text)."""
    from xmlschemavalidator_spark.dedup import mask_contaminated_spans

    bench = spark.createDataFrame([(1, _DECON_SENT)], "bid bigint, text string")
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 9 == 0, F.lit(" " + _DECON_SENT)).otherwise(
                F.lit("")
            ),
        ),
    )
    out = mask_contaminated_spans(docs, "doc_id", bench, k=_SPAN_K, portable=True)
    return out.select(
        F.col("doc").alias("doc_id"), "clean_text", "n_removed_tokens"
    )


def _minhash_portable_oracle() -> str:
    """DuckDB replay of the PORTABLE MinHash-LSH pipeline (VERDICT r2
    item 6): same distinct 3-gram shingles, same md5-derived base hash,
    same (a·h+b) mod 2^31−1 permutations, same 8×4 banding with literal
    tuple buckets and the same (>1, <=1000) bucket-size window — the pair
    set matches hash-exact, upgrading the LSH dedup family from rows-only
    to a value-checked oracle."""
    from xmlschemavalidator_spark.dedup import _MINHASH_P, _perm_consts
    from xmlschemavalidator_spark.textops import PORTABLE_HASH64_SQL

    bh = PORTABLE_HASH64_SQL.format(x="shingle")
    p = _MINHASH_P
    mh_cols = ",\n         ".join(
        f"min((h * {a} + {b}) % {p}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_consts(32))
    )
    bands = "\n  UNION ALL ".join(
        f"SELECT doc, {b} AS band, concat_ws('_', "
        + ", ".join(f"mh_{b * 4 + j}" for j in range(4))
        + ") AS bucket FROM sig"
        for b in range(8)
    )
    return f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(sl)) AS shingle
  FROM (
    SELECT doc_id,
           CASE WHEN len(string_split_regex(trim(coalesce(text,'')), '\\s+')) < 3 THEN []
           ELSE list_transform(
             range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
             i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')
           ) END AS sl
    FROM documents
  ) WHERE len(sl) > 0
), hashed AS (
  SELECT doc, {bh} % {p} AS h FROM sh
), sig AS (
  SELECT doc,
         {mh_cols}
  FROM hashed GROUP BY doc
), banded AS (
  {bands}
), ok AS (
  SELECT band, bucket FROM banded GROUP BY 1, 2
  HAVING count(*) > 1 AND count(*) <= 1000
), cand AS (
  SELECT a.doc AS id_a, b.doc AS id_b
  FROM banded a
  JOIN banded b USING (band, bucket)
  JOIN ok USING (band, bucket)
  WHERE a.doc < b.doc
)
SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared_bands
FROM cand GROUP BY 1, 2"""


@q("minhash_lsh_pairs_portable", _minhash_portable_oracle())
def minhash_lsh_pairs_portable(spark, sf_dir):
    """The LSH candidate pipeline in portable-hash mode — identical
    banding/cap semantics to minhash_lsh_pairs, md5-derived base hash so
    DuckDB reproduces the exact pair set (see _minhash_portable_oracle).
    Production keeps the xxhash64 default; this mode exists for
    cross-engine verification and engine-portable reruns."""
    from xmlschemavalidator_spark.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), "doc_id", portable=True
    ).select("id_a", "id_b", F.col("n_shared_bands").cast("bigint").alias("n_shared_bands"))


@q("simhash_near_dups")  # no oracle: signature blocking is engine-specific
def simhash_near_dups(spark, sf_dir):
    from xmlschemavalidator_spark.dedup import simhash_near_duplicates

    return simhash_near_duplicates(_t(spark, sf_dir, "documents"), "doc_id", hamming_max=10)


@q("simhash_hot_chunks")  # no oracle: audit of the engine-specific blocking
def simhash_hot_chunks_q(spark, sf_dir):
    """Dropped-bucket audit for simhash_near_dups (VERDICT r2 item 1) —
    buckets over the cap with their sizes; empty = full coverage. Run with
    a deliberately tiny cap so the query exercises a non-empty result."""
    from xmlschemavalidator_spark.dedup import simhash_hot_chunks

    return simhash_hot_chunks(
        _t(spark, sf_dir, "documents"), "doc_id", hamming_max=10, max_bucket=5
    )


@q(
    "embedding_norms",
    """SELECT vec_id,
              round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 5) AS l2_norm
       FROM embeddings""",
)
def embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))
    return emb.select("vec_id", F.round(norm, 5).alias("l2_norm"))


_COS_TOPK_SQL = """\
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
       SELECT vec_id,
              round(list_dot_product(embedding::DOUBLE[], qv)
                    / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                       * sqrt(list_dot_product(qv, qv))), 5) AS cosine
       FROM embeddings, q
       ORDER BY round(list_dot_product(embedding::DOUBLE[], qv)
                    / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                       * sqrt(list_dot_product(qv, qv))), 5) DESC, vec_id
       LIMIT 10"""


@q("ann_cosine_topk", _COS_TOPK_SQL)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 around vec_id=0 (exact ANN baseline).
    Reuses dedup.brute_force_topk directly — double math and 5dp
    rounding are the library defaults, matching the oracle convention."""
    from xmlschemavalidator_spark.dedup import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0]["embedding"]
    return brute_force_topk(emb, "embedding", [float(x) for x in qrow], k=10)


# ===========================================================================
# engine-native (pages) queries — deterministic generator, rows-only checks
# ===========================================================================

@q("pages_flagship_summary")  # no oracle: input generated, not a view
def pages_flagship_summary(spark, sf_dir):
    """Flagship web-page validation on the deterministic synthetic pages
    table — per-rule violation counts. (10k rows regardless of sf.)"""
    from xmlschemavalidator_spark.datagen import pages
    from xmlschemavalidator_spark.flagship import run_flagship

    res = run_flagship(pages(spark, 10_000))
    return res.violations.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n_violations"))


@q("pages_extract_invariant")  # no oracle: generated input
def pages_extract_invariant(spark, sf_dir):
    """Byte-identical extraction invariant count over synthetic pages."""
    from xmlschemavalidator_spark.datagen import extract_text, pages

    df = pages(spark, 10_000)
    bad = df.where(
        ~(extract_text(F.col("html")) == F.coalesce(F.col("text"), F.lit("")))
    )
    return bad.agg(F.count(F.lit(1)).alias("n_corrupted"))


# ===========================================================================
# skew / sketch / source ops (round-1 additions)
# ===========================================================================

@q(
    "salted_agg_returnflag",
    """SELECT l_returnflag,
              CAST(count(*) AS BIGINT) AS n,
              CAST(max(l_quantity) AS DOUBLE) AS max_qty,
              CAST(min(l_quantity) AS DOUBLE) AS min_qty
       FROM lineitem GROUP BY l_returnflag""",
)
def salted_agg_returnflag(spark, sf_dir):
    """Two-phase salted aggregation == plain groupBy for partial-aggregable
    fns (skew-safety demonstrated against the SQL oracle)."""
    from xmlschemavalidator_spark.checks.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem").repartition(8)
    return salted_agg(
        li,
        ["l_returnflag"],
        {"n": ("1", "count"), "max_qty": ("l_quantity", "max"), "min_qty": ("l_quantity", "min")},
    )


@q(
    "structural_occurs",
    """SELECT o_custkey,
              (count(*) BETWEEN 1 AND 20) AS occurs_ok,
              CAST(count(*) AS BIGINT) AS n_orders
       FROM orders GROUP BY o_custkey""",
)
def structural_occurs(spark, sf_dir):
    """minOccurs/maxOccurs over a collected child array (parser.clj:35-42,
    spec-enforced): each customer's orders as the children collection."""
    from xmlschemavalidator_spark.rules.structural import Occurs

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.collect_list("o_orderkey").alias("children"))
    return per_cust.select(
        "o_custkey",
        Occurs(1, 20).to_column(F.col("children")).alias("occurs_ok"),
        F.size("children").cast("long").alias("n_orders"),
    )


@q(
    "embedding_bruteforce_pairs",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 5) AS cosine
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE a.vec_id < 100 AND b.vec_id < 100
         AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.3""",
)
def embedding_bruteforce_pairs(spark, sf_dir):
    """Exact cosine near-dup pairs (brute force over a 100-vector slice) —
    the verifier baseline for the LSH-bucketed path."""
    from xmlschemavalidator_spark.dedup import cosine_similarity

    emb = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 100)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"))
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(cos >= 0.3)
        .select("id_a", "id_b", F.round(cos, 5).alias("cosine"))
    )


@q("tdigest_quantiles")  # no oracle: sketch estimates are engine-specific
def tdigest_quantiles(spark, sf_dir):
    """Mergeable per-partition quantile sketch (t-digest-style)."""
    from xmlschemavalidator_spark.checks.tdigest import digest_of

    d = digest_of(_t(spark, sf_dir, "documents").repartition(8), "n_chars")
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    return spark.createDataFrame(
        [(q, float(v)) for q, v in zip(qs, d.quantiles(qs))], "quantile double, value double"
    )


@q("warc_roundtrip")  # no oracle: source-format op over generated files
def warc_roundtrip(spark, sf_dir):
    """WARC source: write a fake archive, read it back through the
    binaryFile + mapInPandas parser, return per-file record counts."""
    import tempfile

    from xmlschemavalidator_spark.sources import read_warc, write_fake_warc

    tmp = tempfile.mkdtemp(prefix="warcq_")
    rows = [
        {
            "url": f"https://w.example/p{i}",
            "warc_ts": "2024-05-01T00:00:00Z",
            "html": b"<html><head><title>p</title></head><body>doc " + str(i).encode() + b"</body></html>",
        }
        for i in range(20)
    ]
    write_fake_warc(f"{tmp}/a.warc", rows[:10])
    write_fake_warc(f"{tmp}/b.warc.gz", rows[10:], gz=True)
    df = read_warc(spark, f"{tmp}/*")
    return df.groupBy().agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count("text").alias("n_extracted"),
    )


# ===========================================================================
# XSD front-end (the reference's native input format)
# ===========================================================================

_DOCS_XSD = """<schema>
  <simpleType name="langtype">
    <restriction base="string">
      <enumeration value="en"/><enumeration value="de"/><enumeration value="sv"/>
      <enumeration value="fr"/><enumeration value="zh"/><enumeration value="es"/>
    </restriction>
  </simpleType>
  <simpleType name="charstype">
    <restriction base="integer">
      <minInclusive value="36"/><maxInclusive value="4200"/>
    </restriction>
  </simpleType>
  <complexType name="doctype">
    <sequence>
      <element name="text" type="string"/>
      <element name="lang" type="langtype"/>
      <element name="n_chars" type="charstype"/>
    </sequence>
    <attribute name="source" type="string" use="required"/>
  </complexType>
  <element name="document" type="doctype"/>
</schema>"""

_XSD_ORACLE_RULES = """
              (text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL) AS rule_document__sequence_ok,
              (text IS NOT NULL AND TRY_CAST(CAST(text AS VARCHAR) AS DOUBLE) IS NULL) AS rule_document__text_ok,
              (lang IS NOT NULL AND TRY_CAST(CAST(lang AS VARCHAR) AS DOUBLE) IS NULL
               AND (lang = 'en' OR lang = 'de' OR lang = 'sv' OR lang = 'fr' OR lang = 'zh' OR lang = 'es')) AS rule_document__lang_ok,
              (TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) IS NOT NULL
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) = floor(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE))
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) >= 36.0
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) <= 4200.0) AS rule_document__n_chars_ok,
              (source IS NOT NULL AND source IS NOT NULL
               AND TRY_CAST(CAST(source AS VARCHAR) AS DOUBLE) IS NULL) AS rule_document__attr_source_ok
"""

@q(
    "xsd_columnar_verdicts",
    f"SELECT doc_id, {_XSD_ORACLE_RULES} FROM documents",
)
def xsd_columnar_verdicts(spark, sf_dir):
    """An XSD schema (the reference's input dialect) compiled straight to
    the columnar engine: documents columns validated against the parsed
    complexType's particle, element types, and required attribute."""
    from xmlschemavalidator_spark.xsd import parse_xsd

    schema = parse_xsd(_DOCS_XSD)
    rs = schema.ruleset_for("document")
    res = validate(_t(spark, sf_dir, "documents"), rs, key="doc_id")
    cols = ["doc_id"] + [ok_col_name(r) for r in rs.rule_ids()]
    return res.verdicts.select(*cols)


@q(
    "xsd_xml_documents",
    f"""SELECT doc_id, ({_XSD_ORACLE_RULES.replace(' AS rule_document__sequence_ok,', ' AND').replace(' AS rule_document__text_ok,', ' AND').replace(' AS rule_document__lang_ok,', ' AND').replace(' AS rule_document__n_chars_ok,', ' AND').replace(' AS rule_document__attr_source_ok', '')}) AS _doc_ok
        FROM documents""",
)
def xsd_xml_documents(spark, sf_dir):
    """The document path (reference decode over a table): render each
    documents row as an XML string, parse with from_xml using the schema
    derived from the XSD, validate — verdict equals validating the source
    columns directly (round-trip identity)."""
    from xmlschemavalidator_spark.xsd import parse_xsd

    docs = _t(spark, sf_dir, "documents").withColumn(
        "xml",
        F.concat(
            F.lit('<document source="'), F.col("source"), F.lit('">'),
            F.lit("<text>"), F.col("text"), F.lit("</text>"),
            F.lit("<lang>"), F.col("lang"), F.lit("</lang>"),
            F.lit("<n_chars>"), F.col("n_chars").cast("string"), F.lit("</n_chars>"),
            F.lit("</document>"),
        ),
    )
    schema = parse_xsd(_DOCS_XSD)
    res = schema.validate_xml_column(docs, "xml", root="document", key="doc_id")
    return res.verdicts.select("doc_id", "_doc_ok")


@q(
    "join_q4_order_priority",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
       FROM orders
       WHERE EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
       GROUP BY o_orderpriority ORDER BY o_orderpriority""",
)
def join_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS → LEFT SEMI join (Spark never materializes the
    probe side's payload columns; at scale the semi-join build side carries
    only (l_orderkey, l_shipdate), and AQE can pick broadcast when the
    filtered orders side is small)."""
    orders = _t(spark, sf_dir, "orders")
    line = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sub = orders.join(
        line,
        (orders.o_orderkey == line.l_orderkey) & (line.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        sub.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@q(
    "agg_q6_revenue",
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
              AS revenue,
              CAST(count(*) AS BIGINT) AS n_lines
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.03 AND 0.07
         AND l_quantity < 24""",
)
def agg_q6_revenue(spark, sf_dir):
    """TPC-H Q6 shape: highly selective scan-side filters + a single global
    aggregate. All four predicates push down to the parquet scan
    (PushedFilters); the agg is partial→final with a 1-row shuffle."""
    line = _t(spark, sf_dir, "lineitem")
    return (
        line.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * F.col("l_discount").cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@q(
    "rollup_source_lang",
    """SELECT coalesce(source, '(all)') AS source,
              coalesce(lang, '(all)') AS lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(round(sum(CAST(n_chars AS DECIMAL(18,0))), 0) AS BIGINT) AS total_chars
       FROM documents
       GROUP BY ROLLUP(source, lang)""",
)
def rollup_source_lang(spark, sf_dir):
    """Hierarchical subtotal stats via GROUP BY ROLLUP — one pass computes
    per-(source,lang), per-source, and grand-total tiers (Catalyst Expand +
    single hash aggregate; no self-union of three scans)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("bigint").alias("total_chars"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "n_docs",
            "total_chars",
        )
    )


@q(
    "cube_source_lang",
    """SELECT coalesce(source, '(all)') AS source,
              coalesce(lang, '(all)') AS lang,
              CAST(GROUPING_ID(source, lang) AS BIGINT) AS gid,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(round(sum(CAST(n_chars AS DECIMAL(18,0))), 0) AS BIGINT) AS total_chars
       FROM documents
       GROUP BY CUBE(source, lang)""",
)
def cube_source_lang(spark, sf_dir):
    """All four aggregation tiers in one pass via GROUP BY CUBE —
    per-(source,lang), per-source, per-lang, and grand total (Catalyst
    Expand + ONE hash aggregate; no 4-way self-union of scans).
    grouping_id disambiguates subtotal NULLs from data NULLs — the thing
    the coalesce masking alone cannot (both engines use the standard MSB-
    first bit order, pinned by the hash)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("bigint").alias("total_chars"),
        )
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "gid",
            "n_docs",
            "total_chars",
        )
    )


@q(
    "grouping_sets_source_lang",
    """SELECT coalesce(source, '(all)') AS source,
              coalesce(lang, '(all)') AS lang,
              CAST(count(*) AS BIGINT) AS n_docs
       FROM documents
       GROUP BY GROUPING SETS ((source), (lang), ())""",
)
def grouping_sets_source_lang(spark, sf_dir):
    """Explicit GROUPING SETS (the general form ROLLUP/CUBE compile to):
    per-source totals, per-lang totals, and the grand total — WITHOUT the
    per-(source,lang) cells a cube would also pay for. One Expand + one
    aggregate; at 10^12 rows skipping the finest tier is the entire win."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupingSets(
            [[F.col("source")], [F.col("lang")], []],
            F.col("source"),
            F.col("lang"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "n_docs",
        )
    )


@q(
    "pivot_source_by_lang",
    """SELECT source,
              CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS de,
              CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS en,
              CAST(count(*) FILTER (WHERE lang = 'es') AS BIGINT) AS es,
              CAST(count(*) FILTER (WHERE lang = 'fr') AS BIGINT) AS fr,
              CAST(count(*) FILTER (WHERE lang = 'zh') AS BIGINT) AS zh
       FROM documents GROUP BY source""",
)
def pivot_source_by_lang(spark, sf_dir):
    """Long-to-wide pivot: per-source doc counts with one column per
    language. The value list is EXPLICIT (the testdata's emitted langs) —
    pivot without values runs an extra distinct job over the corpus and
    makes the output schema data-dependent, both wrong at scale. Absent
    combinations surface as 0, matching the FILTER'd-count oracle."""
    docs = _t(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    wide = (
        docs.groupBy("source")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "source",
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in langs],
    )


@q(
    "unpivot_source_metrics",
    """WITH s AS (
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS total_chars,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         FROM documents GROUP BY source
       )
       SELECT source, 'n_docs' AS metric, n_docs AS metric_value FROM s
       UNION ALL
       SELECT source, 'n_langs', n_langs FROM s
       UNION ALL
       SELECT source, 'total_chars', total_chars FROM s""",
)
def unpivot_source_metrics(spark, sf_dir):
    """Wide-to-long unpivot (melt) of a per-source stats block into
    (source, metric, metric_value) rows — the shape reporting sinks and
    drift baselines consume. unpivot is a zero-shuffle Expand over the
    already-aggregated frame; the oracle is the portable UNION ALL
    spelling of the same reshape."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    return s.unpivot(
        ids=["source"],
        values=["n_docs", "total_chars", "n_langs"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@q(
    "outliers_event_value",
    """\
WITH v AS (
  SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY v, event_id)
              AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
  FROM v
), med AS (
  SELECT event_type, v AS med FROM r WHERE rn = (n + 1) // 2
), d AS (
  SELECT v.event_id, v.event_type, v.v, med.med, abs(v.v - med.med) AS dev
  FROM v JOIN med USING (event_type)
), dr AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id)
              AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
  FROM d
), mad AS (
  SELECT event_type, dev AS mad FROM dr WHERE rn = (n + 1) // 2
)
SELECT d.event_id, d.event_type,
       round(d.v, 5) AS value, round(d.med, 5) AS med,
       round(mad.mad, 5) AS mad, round(d.dev, 5) AS abs_dev
FROM d JOIN mad USING (event_type)
WHERE d.dev * 10 > 35 * mad.mad""",
)
def outliers_event_value(spark, sf_dir):
    """Hampel-filter outliers per event_type (checks/stats.py:
    robust_outliers — median/MAD, the robust z-score): median and MAD
    are RANK-SELECTED lower medians (actual data elements), never the
    interpolated midpoint — interpolation differs in the last ulp across
    engines and flips boundary rows, rank selection cannot. The flag
    predicate (abs_dev * 10 > 35 * mad) is then the same IEEE double
    comparison on identical inputs in both engines, so the outlier SET
    is hash-exact, not threshold-tuned."""
    from xmlschemavalidator_spark.checks.stats import robust_outliers

    e = _t(spark, sf_dir, "events")
    out = robust_outliers(
        e, "value", "event_id", group_cols=("event_type",), k_tenths=35
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 5).alias("value"),
        F.round("med", 5).alias("med"),
        F.round("mad", 5).alias("mad"),
        F.round("abs_dev", 5).alias("abs_dev"),
    )


@q(
    "percentiles_event_value",
    """SELECT event_type,
              CAST(round(quantile_cont(value, 0.5), 5) AS DOUBLE) AS p50,
              CAST(round(quantile_cont(value, 0.9), 5) AS DOUBLE) AS p90,
              CAST(round(quantile_cont(value, 0.99), 5) AS DOUBLE) AS p99
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def percentiles_event_value(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`). The exact form is the correctness oracle for
    the mergeable t-digest sketch path (checks/tdigest.py), which is what
    actually runs at 10^12-row scale."""
    ev = _t(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))")
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("_p"))
        .select(
            "event_type",
            F.round(F.col("_p")[0], 5).cast("double").alias("p50"),
            F.round(F.col("_p")[1], 5).cast("double").alias("p90"),
            F.round(F.col("_p")[2], 5).cast("double").alias("p99"),
        )
        .orderBy("event_type")
    )


@q(
    "heavy_hitters_source",
    """SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(round(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE), 6)
                   AS DOUBLE) AS share
       FROM documents GROUP BY source
       HAVING count(*) >= 10
       ORDER BY n_docs DESC, source""",
)
def heavy_hitters_source(spark, sf_dir):
    """Heavy-hitter domains (skew detection input for salting decisions):
    group counts + global share, support-thresholded. ONE scan: the global
    total is a window sum over the GROUPED rows (group-count cardinality,
    tiny next to the table) — a broadcast of a separate total aggregate
    would re-scan the base table."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    total = F.sum("n_docs").over(Window.partitionBy()).cast("double")
    return (
        per.withColumn("share", F.round(F.col("n_docs") / total, 6).cast("double"))
        .where(F.col("n_docs") >= 10)
        .select("source", "n_docs", "share")
        .orderBy(F.desc("n_docs"), "source")
    )


@q(
    "freshness_events",
    """SELECT event_type,
              strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts,
              CAST(round(epoch(TIMESTAMP '2024-02-01 00:00:00'
                               - date_trunc('second', max(ts))) / 3600.0, 4)
                   AS DOUBLE) AS hours_stale
       FROM events GROUP BY event_type ORDER BY event_type""",
)
def freshness_events(spark, sf_dir):
    """Freshness check: per-stream latest event time and staleness against a
    reference instant — the dataset-level 'is this partition up to date'
    gate a validation run emits alongside pass/fail."""
    ev = _t(spark, sf_dir, "events")
    # events.ts is TIMESTAMP_NTZ — no epoch cast; timestampdiff handles NTZ.
    # Truncate to whole seconds first: Spark truncates the interval while
    # DuckDB's epoch() keeps fractional seconds, so sub-second parts would
    # diverge between the two engines otherwise.
    stale_s = F.expr(
        "timestampdiff(SECOND, date_trunc('second', _max_ts), "
        "TIMESTAMP_NTZ '2024-02-01 00:00:00')"
    )
    return (
        ev.groupBy("event_type")
        .agg(F.max("ts").alias("_max_ts"))
        .select(
            "event_type",
            F.date_format("_max_ts", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
            F.round(stale_s / 3600.0, 4).cast("double").alias("hours_stale"),
        )
        .orderBy("event_type")
    )


@q(
    "snapshot_diff_documents",
    """WITH new AS (
         SELECT doc_id, text, lang, source,
                CASE WHEN doc_id % 50 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
         FROM documents WHERE doc_id % 97 <> 0
         UNION ALL
         SELECT doc_id + 1000000, text, lang, source, n_chars
         FROM documents WHERE doc_id < 10
       )
       SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.doc_id IS NULL THEN 'added'
                   WHEN n.doc_id IS NULL THEN 'removed'
                   ELSE 'changed' END AS change
       FROM documents o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
       WHERE o.doc_id IS NULL OR n.doc_id IS NULL
          OR o.text IS DISTINCT FROM n.text
          OR o.lang IS DISTINCT FROM n.lang
          OR o.source IS DISTINCT FROM n.source
          OR o.n_chars IS DISTINCT FROM n.n_chars""",
)
def snapshot_diff_documents(spark, sf_dir):
    """Row-level snapshot diff (checks/diff.py): the 'new' snapshot is a
    deterministic mutation of documents (drop doc_id%97, bump n_chars on
    doc_id%50, add 10 re-keyed rows); the diff must classify every key as
    added/removed/changed. The join shuffles (key, md5 fingerprint) only —
    the oracle compares the raw columns, so fingerprint collapse is itself
    under test."""
    from xmlschemavalidator_spark.checks.diff import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    mutated = docs.where(F.col("doc_id") % 97 != 0).withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 50 == 0, F.col("n_chars") + 1).otherwise(
            F.col("n_chars")
        ),
    )
    added = docs.where(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    new = mutated.unionByName(added)
    return snapshot_diff(docs, new, "doc_id")


@q(
    "join_q18_large_orders",
    """SELECT c_name, o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS totalprice,
              CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_qty
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON o_orderkey = l_orderkey
       WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                            GROUP BY l_orderkey HAVING sum(l_quantity) > 350)
       GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
       ORDER BY totalprice DESC, o_orderkey""",
)
def join_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: agg-HAVING subquery as a semi-join filter before
    the 3-way join — Catalyst evaluates the grouped HAVING once and
    semi-joins its (small) key set into the fact scan; the re-aggregation
    after the join only sees surviving orders."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_q"))
        .where(F.col("_q") > 350)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_qty")
        )
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2)
            .cast("double")
            .alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
    )


_CORR_ORACLE = """
WITH s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy,
         CAST(sum(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy
  FROM lineitem)
SELECT CAST(round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS DOUBLE)
       AS corr_qty_price
FROM s"""


@q("profile_correlation", _CORR_ORACLE)
def profile_correlation(spark, sf_dir):
    """Pearson correlation from EXACT decimal co-moments: the five sums are
    decimal (order-independent, identical in any engine), only the final
    combination is double — so the result is bit-stable across partition
    counts and engines, unlike a float corr() aggregate whose partial
    merges reorder float additions. One scan, one partial+final agg."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(28,6)")
    y = F.col("l_extendedprice").cast("decimal(28,6)")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(F.round(num / den, 6).cast("double").alias("corr_qty_price"))


@q(
    "cohort_retention",
    """WITH first_seen AS (
         SELECT user_id, date_trunc('week', min(ts)) AS cohort
         FROM events GROUP BY user_id
       ), activity AS (
         SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
       )
       SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
              CAST(date_diff('week', cohort, wk) AS INT) AS weeks_later,
              CAST(count(*) AS BIGINT) AS n_users
       FROM first_seen JOIN activity USING (user_id)
       GROUP BY cohort, wk
       ORDER BY cohort_week, weeks_later""",
)
def cohort_retention(spark, sf_dir):
    """Weekly cohort retention (training-pipeline freshness analytics):
    cohort = user's first-event week. ONE scan: per-user collect_set of
    active weeks (bounded by the week count, not event count) carries the
    cohort along, then explode + count — the join-of-two-scans formulation
    reads the events table twice at 10^12 scale. Weeks truncate to Monday
    so the week arithmetic is exact integer day-diff / 7."""
    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk"))
        .groupBy("user_id")
        .agg(F.min("wk").alias("cohort"), F.collect_set("wk").alias("wks"))
    )
    return (
        per_user.select("cohort", F.explode("wks").alias("wk"))
        .groupBy("cohort", "wk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("wk", "cohort") / 7).cast("int").alias("weeks_later"),
            "n_users",
        )
        .orderBy("cohort_week", "weeks_later")
    )


def _gopher_oracle() -> str:
    from xmlschemavalidator_spark.textops import _STOPWORDS

    stops = ", ".join(f"'{w}'" for w in _STOPWORDS["en"])
    # empty-token filter + nullif divisor: Spark's tokens() yields [] for
    # empty/whitespace-only text (ratios NULL), while a bare
    # regexp_split_to_array gives [''] (n_words=1, ratios 0) — the oracle
    # must replicate the Spark semantics exactly (round-1 advisor finding;
    # exercised by tests/test_textops.py::test_gopher_oracle_empty_text_parity)
    return f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                     x -> x <> '') AS arr
  FROM documents
), s AS (
  SELECT doc_id,
         len(arr) AS n_words,
         list_aggregate(list_transform(arr, x -> length(x)), 'sum')
           / nullif(CAST(len(arr) AS DOUBLE), 0) AS mwl,
         len(list_filter(arr, x -> regexp_matches(x, '[A-Za-z]')))
           / nullif(CAST(len(arr) AS DOUBLE), 0) AS falpha,
         ((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) / 3.0)
           / nullif(CAST(len(arr) AS DOUBLE), 0) AS symr,
         len(list_filter(arr, x -> list_contains([{stops}], lower(x)))) AS stops
  FROM t)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(round(mwl, 6) AS DOUBLE) AS mean_word_len,
       CAST(round(falpha, 6) AS DOUBLE) AS frac_alpha_words,
       CAST(round(symr, 6) AS DOUBLE) AS symbol_ratio,
       CAST(stops AS BIGINT) AS stopword_hits,
       (n_words >= 5 AND mwl BETWEEN 3.0 AND 10.0 AND falpha >= 0.8
        AND symr <= 0.1 AND stops >= 2) AS keep
FROM s"""


def _quality_model_oracle() -> str:
    """Full replay of NB training + scoring in DuckDB (VERDICT r2 item 4):
    same weak labels (the gopher oracle's keep expression), same train
    split (doc_id % 5 <> 0), same portable md5 bucket hash, same
    floor-quantized micro-log-odds — scores are integer sums, so parity is
    EXACT, not approximate."""
    from xmlschemavalidator_spark.textops import _STOPWORDS, PORTABLE_HASH64_SQL

    bh = PORTABLE_HASH64_SQL.format(x="tok")
    stops = ", ".join(f"'{w}'" for w in _STOPWORDS["en"])
    return f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                     x -> x <> '') AS arr
  FROM documents
), s AS (
  SELECT doc_id, arr,
         len(arr) AS n_words,
         list_aggregate(list_transform(arr, x -> length(x)), 'sum')
           / nullif(CAST(len(arr) AS DOUBLE), 0) AS mwl,
         len(list_filter(arr, x -> regexp_matches(x, '[A-Za-z]')))
           / nullif(CAST(len(arr) AS DOUBLE), 0) AS falpha,
         ((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) / 3.0)
           / nullif(CAST(len(arr) AS DOUBLE), 0) AS symr,
         len(list_filter(arr, x -> list_contains([{stops}], lower(x)))) AS stops
  FROM t
), lab AS (
  SELECT doc_id,
         (n_words >= 5 AND mwl BETWEEN 3.0 AND 10.0 AND falpha >= 0.8
          AND symr <= 0.1 AND stops >= 2) AS y
  FROM s
), tokb AS (
  SELECT doc_id,
         CAST({bh} % 4096 AS INT) AS bucket
  FROM (SELECT doc_id, unnest(list_transform(arr, x -> lower(x))) AS tok FROM t)
), tr AS (
  SELECT tokb.bucket, lab.y
  FROM tokb JOIN lab USING (doc_id)
  WHERE doc_id % 5 <> 0
), cnt AS (
  SELECT bucket,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
  FROM tr GROUP BY 1
), tot AS (
  SELECT CAST(coalesce(sum(c_pos), 0) AS DOUBLE) AS tp,
         CAST(coalesce(sum(c_neg), 0) AS DOUBLE) AS tn
  FROM cnt
), dtot AS (
  SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS dp,
         sum(CASE WHEN y THEN 0 ELSE 1 END) AS dn
  FROM lab WHERE doc_id % 5 <> 0
), b AS (
  SELECT CAST(unnest(range(0, 4096)) AS INT) AS bucket
), w AS (
  SELECT b.bucket,
         CAST(floor((ln((coalesce(c.c_pos, 0) + 1.0) / (tot.tp + 4096.0))
                   - ln((coalesce(c.c_neg, 0) + 1.0) / (tot.tn + 4096.0)))
                   * 1000000) AS BIGINT) AS w_micro
  FROM b LEFT JOIN cnt c USING (bucket) CROSS JOIN tot
), pri AS (
  SELECT CAST(floor(ln((dp + 1.0) / (dn + 1.0)) * 1000000) AS BIGINT) AS p
  FROM dtot
), sm AS (
  SELECT doc_id, CAST(sum(w_micro) AS BIGINT) AS sc
  FROM tokb JOIN w USING (bucket) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(sm.sc, 0) + pri.p AS BIGINT) AS quality_micros,
       (coalesce(sm.sc, 0) + pri.p) / 1000000.0 AS quality_logodds,
       (coalesce(sm.sc, 0) + pri.p) > 0 AS quality_pass
FROM documents d LEFT JOIN sm ON d.doc_id = sm.doc_id CROSS JOIN pri"""


@q("text_quality_model", _quality_model_oracle())
def text_quality_model(spark, sf_dir):
    """Learned quality scorer: multinomial NB over hashed unigrams trained
    in-query on gopher_pass weak labels (train split doc_id % 5 <> 0),
    scoring EVERY doc. Micro-quantized integer weights make the log-odds
    exactly reproducible — the oracle replays training AND scoring and the
    hash covers the integer score itself. Held-out AUC vs the heuristic
    baseline is pinned in tests/test_quality_model.py (0.99 vs 0.53)."""
    from xmlschemavalidator_spark.quality_model import (
        score_quality,
        train_quality_model,
    )
    from xmlschemavalidator_spark.textops import gopher_pass

    docs = _t(spark, sf_dir, "documents")
    lab = docs.withColumn("_y", gopher_pass(F.col("text")))
    model = train_quality_model(
        lab.where(F.col("doc_id") % 5 != 0), "doc_id", "_y"
    )
    scored = score_quality(docs, model, "doc_id")
    return scored.select(
        F.col("doc").alias("doc_id"),
        "quality_micros",
        "quality_logodds",
        "quality_pass",
    )


@q(
    "text_line_filters",
    """WITH t AS (
         SELECT doc_id,
                list_filter(string_split(text2, chr(10)),
                            l -> length(trim(l)) > 0) AS lines
         FROM (SELECT doc_id,
                      replace(coalesce(text, ''), '. ', '.' || chr(10))
                      || CASE WHEN doc_id % 5 = 0
                              THEN chr(10) || '- menu item' ELSE '' END
                      || CASE WHEN doc_id % 4 = 0
                              THEN chr(10) || 'read the full story here...'
                              ELSE '' END AS text2
               FROM documents)),
       s AS (
         SELECT doc_id,
                len(lines) AS n_lines,
                len(list_filter(lines, l -> regexp_matches(trim(l), '[.!?"]$')))
                  / nullif(CAST(len(lines) AS DOUBLE), 0) AS fep,
                len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*]')))
                  / nullif(CAST(len(lines) AS DOUBLE), 0) AS fb,
                len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$')))
                  / nullif(CAST(len(lines) AS DOUBLE), 0) AS fe,
                len(list_filter(lines,
                    l -> len(list_filter(regexp_split_to_array(trim(l), '\\s+'),
                                         x -> x <> '')) < 3))
                  / nullif(CAST(len(lines) AS DOUBLE), 0) AS fs
         FROM t)
       SELECT doc_id,
              CAST(n_lines AS BIGINT) AS n_lines,
              CAST(round(fep, 6) AS DOUBLE) AS frac_lines_end_punct,
              CAST(round(fb, 6) AS DOUBLE) AS frac_lines_bullet,
              CAST(round(fe, 6) AS DOUBLE) AS frac_lines_ellipsis,
              CAST(round(fs, 6) AS DOUBLE) AS frac_short_lines,
              coalesce(fep >= 0.5 AND fb <= 0.9 AND fe <= 0.3 AND fs <= 0.67,
                       FALSE) AS keep
       FROM s""",
)
def text_line_filters(spark, sf_dir):
    """FineWeb/C4 line-structure quality filters. The synthetic docs are
    single-line, so BOTH engines rebuild line structure deterministically:
    sentences split onto lines ('. ' -> '.\\n'), a bullet line planted on
    every 5th doc, an ellipsis teaser on every 4th — the signals and the
    keep verdict then exercise every branch."""
    from xmlschemavalidator_spark.textops import fineweb_line_pass, line_signals

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.replace(F.coalesce(F.col("text"), F.lit("")), F.lit(". "), F.lit(".\n")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\n- menu item")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit("\nread the full story here...")
            ).otherwise(F.lit("")),
        ),
    )
    s = line_signals(F.col("text"))
    return docs.select(
        "doc_id",
        s["n_lines"].cast("bigint").alias("n_lines"),
        F.round(s["frac_lines_end_punct"], 6).alias("frac_lines_end_punct"),
        F.round(s["frac_lines_bullet"], 6).alias("frac_lines_bullet"),
        F.round(s["frac_lines_ellipsis"], 6).alias("frac_lines_ellipsis"),
        F.round(s["frac_short_lines"], 6).alias("frac_short_lines"),
        fineweb_line_pass(F.col("text")).alias("keep"),
    )


def _quality_buckets_oracle() -> str:
    return (
        f"WITH base AS ({_quality_model_oracle()}) "
        "SELECT doc_id, quality_micros, "
        "CAST(ntile(3) OVER (ORDER BY quality_micros DESC, doc_id) AS INT) "
        "AS bucket FROM base"
    )


@q("text_quality_buckets", _quality_buckets_oracle())
def text_quality_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail terciles over the learned quality
    score (bucket 1 = head). Total deterministic order (score desc, id
    asc) makes the ntile cut engine-exact; the oracle wraps the full
    training-replay SQL of text_quality_model."""
    import warnings

    from xmlschemavalidator_spark.quality_model import (
        quality_buckets,
        score_quality,
        train_quality_model,
    )
    from xmlschemavalidator_spark.textops import gopher_pass

    docs = _t(spark, sf_dir, "documents")
    lab = docs.withColumn("_y", gopher_pass(F.col("text")))
    model = train_quality_model(lab.where(F.col("doc_id") % 5 != 0), "doc_id", "_y")
    scored = score_quality(docs, model, "doc_id")
    with warnings.catch_warnings():
        # global tercile cut is the point of this query (one corpus shard)
        warnings.simplefilter("ignore", RuntimeWarning)
        out = quality_buckets(scored, 3)
    return out.select(
        F.col("doc").alias("doc_id"), "quality_micros", F.col("bucket").cast("int").alias("bucket")
    )


@q(
    "text_bigram_lm",
    """WITH t AS (
         SELECT doc_id,
                ['<s>'] || list_transform(
                  list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                              x -> x <> ''),
                  x -> lower(x)) AS barr
         FROM documents),
       pairs AS (
         SELECT doc_id,
                unnest(barr[1:len(barr) - 1]) AS prev,
                unnest(barr[2:len(barr)]) AS cur
         FROM t WHERE len(barr) >= 2),
       tr AS (SELECT prev, cur FROM pairs WHERE doc_id % 5 <> 0),
       bc AS (SELECT prev, cur, count(*) AS n_pc FROM tr GROUP BY 1, 2),
       cc AS (SELECT prev, count(*) AS n_p FROM tr GROUP BY 1),
       v AS (SELECT count(DISTINCT cur) AS v FROM tr),
       sc AS (
         SELECT p.doc_id,
                CAST(floor(ln((coalesce(bc.n_pc, 0) + 1.0)
                             / (coalesce(cc.n_p, 0) + 1.0 * v.v))
                           * 1000000) AS BIGINT) AS lp
         FROM pairs p
         LEFT JOIN bc USING (prev, cur)
         LEFT JOIN cc USING (prev)
         CROSS JOIN v),
       agg AS (
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(lp) AS BIGINT) AS logprob_micro
         FROM sc GROUP BY 1)
       SELECT d.doc_id,
              coalesce(agg.n_bigrams, 0) AS n_bigrams,
              coalesce(agg.logprob_micro, 0) AS logprob_micro,
              round(agg.logprob_micro / (agg.n_bigrams * 1000000.0), 6)
                AS avg_logprob
       FROM documents d LEFT JOIN agg USING (doc_id)""",
)
def text_bigram_lm(spark, sf_dir):
    """CCNet-style LM fit score: add-1 bigram model trained in-query on
    the doc_id % 5 <> 0 split, every doc scored by its exact integer sum
    of floor-quantized micro-log-probs (perplexity = exp(-avg_logprob),
    derived by the caller — exp() never crosses the oracle). Training
    replay + scoring both hash-exact in DuckDB."""
    from xmlschemavalidator_spark.quality_model import (
        perplexity_score,
        train_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = train_bigram_lm(docs.where(F.col("doc_id") % 5 != 0), "doc_id")
    out = perplexity_score(docs, lm, "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_bigrams",
        "logprob_micro",
        F.round("avg_logprob", 6).alias("avg_logprob"),
    )


@q("text_gopher_filters", _gopher_oracle())
def text_gopher_filters(spark, sf_dir):
    """Gopher-style quality-filter signals + keep/drop verdict per doc —
    the standard web-corpus filtering pass, entirely in Catalyst HOFs over
    one tokenization (one scan, zero shuffles)."""
    from xmlschemavalidator_spark.textops import gopher_pass, gopher_signals

    docs = _t(spark, sf_dir, "documents")
    s = gopher_signals(F.col("text"))
    return docs.select(
        "doc_id",
        s["n_words"].cast("bigint").alias("n_words"),
        F.round(s["mean_word_len"], 6).cast("double").alias("mean_word_len"),
        F.round(s["frac_alpha_words"], 6).cast("double").alias("frac_alpha_words"),
        F.round(s["symbol_ratio"], 6).cast("double").alias("symbol_ratio"),
        s["stopword_hits"].cast("bigint").alias("stopword_hits"),
        gopher_pass(F.col("text")).alias("keep"),
    )


@q(
    "text_repetition",
    """WITH t AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                            x -> x <> '') AS arr
         FROM documents
       ), g AS (
         SELECT doc_id,
                list_transform(range(1, greatest(len(arr) - 1, 0) + 1),
                               i -> arr[i] || ' ' || arr[i + 1]) AS grams
         FROM t)
       SELECT doc_id,
              CASE WHEN len(grams) > 0
                   THEN CAST(round(1.0 - len(list_distinct(grams))
                                   / CAST(len(grams) AS DOUBLE), 6) AS DOUBLE)
              END AS dup_2gram_frac
       FROM g""",
)
def text_repetition(spark, sf_dir):
    """C4/Gopher repetition filter: fraction of word 2-grams that repeat
    within the document — boilerplate/spam pages score high. One HOF pass,
    no shuffle."""
    from xmlschemavalidator_spark.textops import duplicate_ngram_fraction

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(duplicate_ngram_fraction(F.col("text"), 2), 6)
        .cast("double")
        .alias("dup_2gram_frac"),
    )


@q(
    "text_char_entropy",
    """WITH t AS (
         SELECT doc_id, string_split(substr(coalesce(text, ''), 1, 2000), '') AS cs
         FROM documents),
       u AS (SELECT doc_id, unnest(cs) AS c FROM t),
       f AS (SELECT doc_id, c, COUNT(*) AS n FROM u WHERE c <> '' GROUP BY 1, 2),
       s AS (SELECT doc_id, SUM(n) AS tn FROM f GROUP BY 1),
       e AS (SELECT f.doc_id,
                    CAST(round(-SUM((f.n / CAST(s.tn AS DOUBLE))
                                    * log2(f.n / CAST(s.tn AS DOUBLE))), 5) AS DOUBLE)
                      AS char_entropy
             FROM f JOIN s USING (doc_id)
             GROUP BY f.doc_id)
       SELECT d.doc_id, e.char_entropy
       FROM documents d LEFT JOIN e USING (doc_id)""",
)
def text_char_entropy(spark, sf_dir):
    """Character-entropy quality signal (deterministic perplexity proxy,
    CCNet-family): bits/char over the first 2000 chars. Spark = one
    narrow HOF pass (no explode — a char-exploded table at 10^12 docs is
    a ~10^15-row shuffle); oracle = the groupBy formulation in DuckDB.
    Rounded 5dp (float summation order differs between engines)."""
    from xmlschemavalidator_spark.textops import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(char_entropy(F.col("text")), 5).cast("double").alias("char_entropy"),
    )


_CHUNK, _OVERLAP = 64, 8

@q(
    "text_chunking",
    f"""WITH t AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                            x -> x <> '') AS arr
         FROM documents),
       w AS (
         SELECT doc_id, arr,
                range(1, greatest(len(arr) - {_OVERLAP}, 1) + 1,
                      {_CHUNK - _OVERLAP}) AS starts
         FROM t)
       SELECT * FROM (
         SELECT doc_id,
                CAST(unnest(range(0, len(starts))) AS INT) AS chunk_idx,
                unnest(list_transform(starts,
                       s -> array_to_string(list_slice(arr, s, s + {_CHUNK} - 1), ' ')))
                  AS chunk_text,
                CAST(unnest(list_transform(starts,
                       s -> len(list_slice(arr, s, s + {_CHUNK} - 1)))) AS INT)
                  AS n_tokens
         FROM w)
       WHERE n_tokens > 0""",
)
def text_chunking(spark, sf_dir):
    """Training-prep chunking: fixed 64-token windows with 8-token overlap
    (last partial kept, every token covered — invariant tested). One
    narrow HOF pass; the oracle rebuilds every chunk string exactly via
    DuckDB's lockstep unnest over the same window starts."""
    from xmlschemavalidator_spark.textops import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, "doc_id", chunk_tokens=_CHUNK, overlap=_OVERLAP)
    return out.select(
        F.col("doc").alias("doc_id"),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "chunk_text",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


@q(
    "text_sequence_packing",
    f"""WITH t AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                            x -> x <> '') AS arr
         FROM documents),
       w AS (
         SELECT doc_id, arr,
                range(1, greatest(len(arr) - {_OVERLAP}, 1) + 1,
                      {_CHUNK - _OVERLAP}) AS starts
         FROM t),
       c AS (
         SELECT * FROM (
           SELECT doc_id,
                  CAST(unnest(range(0, len(starts))) AS INT) AS chunk_idx,
                  CAST(unnest(list_transform(starts,
                         s -> len(list_slice(arr, s, s + {_CHUNK} - 1)))) AS INT)
                    AS n_tokens
           FROM w)
         WHERE n_tokens > 0)
       SELECT doc_id, chunk_idx, n_tokens,
              CAST(floor((SUM(n_tokens) OVER
                     (ORDER BY doc_id, chunk_idx ROWS UNBOUNDED PRECEDING)
                   - n_tokens) / 512.0) AS BIGINT) AS seq_id,
              CAST((SUM(n_tokens) OVER
                     (ORDER BY doc_id, chunk_idx ROWS UNBOUNDED PRECEDING)
                   - n_tokens) % 512 AS INT) AS seq_offset
       FROM c""",
)
def text_sequence_packing(spark, sf_dir):
    """Concat-and-chop sequence packing over the chunk stream: every chunk
    lands in a 512-token training sequence by its running token offset
    (boundary-straddling allowed, the packed-pretraining norm). Oracle =
    the same window cumsum in DuckDB over identically rebuilt chunks."""
    from xmlschemavalidator_spark.textops import chunk_documents, pack_chunks

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", chunk_tokens=_CHUNK, overlap=_OVERLAP)
    packed = pack_chunks(chunks, 512)
    return packed.select(
        F.col("doc").alias("doc_id"),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("seq_id").cast("bigint").alias("seq_id"),
        F.col("seq_offset").cast("int").alias("seq_offset"),
    )


@q(
    "text_packed_sequences",
    f"""WITH t AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                            x -> x <> '') AS arr
         FROM documents),
       w AS (
         SELECT doc_id, arr,
                range(1, greatest(len(arr) - {_OVERLAP}, 1) + 1,
                      {_CHUNK - _OVERLAP}) AS starts
         FROM t),
       c AS (
         SELECT * FROM (
           SELECT doc_id,
                  CAST(unnest(range(0, len(starts))) AS INT) AS chunk_idx,
                  unnest(list_transform(starts,
                         s -> list_slice(arr, s, s + {_CHUNK} - 1))) AS ctoks
           FROM w)
         WHERE len(ctoks) > 0),
       tok AS (
         SELECT doc_id, chunk_idx,
                unnest(ctoks) AS tok,
                generate_subscripts(ctoks, 1) AS ti
         FROM c),
       g AS (
         SELECT tok,
                row_number() OVER (ORDER BY doc_id, chunk_idx, ti) - 1 AS gpos
         FROM tok)
       SELECT CAST(gpos // 512 AS BIGINT) AS seq_id,
              string_agg(tok, ' ' ORDER BY gpos) AS seq_text,
              CAST(count(*) AS INT) AS n_tokens
       FROM g GROUP BY 1""",
)
def text_packed_sequences(spark, sf_dir):
    """The materialized packed-pretraining artifact (VERDICT r2 item 3):
    the chunk stream chopped into exact 512-token sequences, straddling
    chunks split at the boundary. The oracle is INDEPENDENT of the
    piece-split implementation: DuckDB flattens the same chunks into one
    global token stream and chops it with integer division — byte-equal
    seq_text required, so any off-by-one in the Spark piece slicing fails
    the hash."""
    import warnings

    from xmlschemavalidator_spark.textops import chunk_documents, pack_sequences

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", chunk_tokens=_CHUNK, overlap=_OVERLAP)
    with warnings.catch_warnings():
        # global packing is intentional here: the oracle models one stream
        warnings.simplefilter("ignore", RuntimeWarning)
        seqs = pack_sequences(chunks, 512)
    return seqs.select(
        "seq_id", "seq_text", F.col("n_tokens").cast("int").alias("n_tokens")
    )


@q(
    "vocab_coverage_per_lang",
    """WITH t AS (
         SELECT doc_id, lang,
                list_transform(
                  list_filter(regexp_split_to_array(trim(coalesce(text, '')),
                                                    '[ \\t\\n\\x0b\\f\\r]+'),
                              x -> x <> ''),
                  x -> lower(x)) AS arr
         FROM documents),
       tok AS (SELECT doc_id, unnest(arr) AS token FROM t),
       cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
       top AS (
         SELECT token FROM cnt ORDER BY n DESC, token LIMIT 14),
       enc AS (
         SELECT tok.doc_id,
                CASE WHEN top.token IS NULL THEN 1 ELSE 0 END AS unk
         FROM tok LEFT JOIN top USING (token)),
       agg AS (
         SELECT doc_id, count(*) AS n_tokens, sum(unk) AS n_unk
         FROM enc GROUP BY 1)
       SELECT d.lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(coalesce(sum(agg.n_tokens), 0) AS BIGINT) AS total_tokens,
              CAST(coalesce(sum(agg.n_unk), 0) AS BIGINT) AS total_unk,
              round(coalesce(sum(agg.n_unk), 0)
                    / greatest(coalesce(sum(agg.n_tokens), 0), 1), 6) AS unk_rate
       FROM documents d LEFT JOIN agg USING (doc_id)
       GROUP BY 1 ORDER BY 1""",
)
def vocab_coverage_per_lang(spark, sf_dir):
    """Vocab-coverage report panel (r3 VERDICT item 5): per-language UNK
    rate under a deliberately tiny 16-entry vocab (2 reserved + top-14 by
    (count desc, token) — a total order, so both engines pick the same
    words and the UNK path is guaranteed non-vacuous). The oracle replays
    vocab building, encoding, and the panel aggregation."""
    from xmlschemavalidator_spark.report import vocab_coverage_panel
    from xmlschemavalidator_spark.textops import build_vocab, encode_token_ids

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, vocab_size=16)
    enc = encode_token_ids(docs, vocab, "doc_id")
    lang_of = docs.select(F.col("doc_id").alias("doc"), "lang")
    return vocab_coverage_panel(enc, lang_of)


@q(
    "text_token_ids",
    """WITH t AS (
         SELECT doc_id,
                list_transform(
                  list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                              x -> x <> ''),
                  x -> lower(x)) AS arr
         FROM documents),
       tok AS (
         SELECT doc_id, unnest(arr) AS token, generate_subscripts(arr, 1) AS pos
         FROM t),
       cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
       top AS (
         SELECT token,
                CAST(row_number() OVER (ORDER BY n DESC, token) + 1 AS INT) AS token_id
         FROM cnt ORDER BY n DESC, token LIMIT 254),
       enc AS (
         SELECT tok.doc_id, tok.pos, coalesce(top.token_id, 1) AS tid
         FROM tok LEFT JOIN top USING (token)),
       agg AS (
         SELECT doc_id,
                string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids,
                CAST(sum(CASE WHEN tid = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
         FROM enc GROUP BY 1)
       SELECT d.doc_id,
              coalesce(agg.ids, '') AS token_ids,
              coalesce(agg.n_unk, 0) AS n_unk
       FROM documents d LEFT JOIN agg USING (doc_id)""",
)
def text_token_ids(spark, sf_dir):
    """Word-level vocab + id encoding: a 256-entry vocab (ids 0/1 reserved
    for pad/unk) built by (count desc, token) — a total order, so both
    engines pick the identical top-k even at count ties — then every doc
    encoded with OOV→1. The tiny vocab guarantees the UNK path is
    exercised; ids are hash-compared as the comma-joined sequence."""
    from xmlschemavalidator_spark.textops import build_vocab, encode_token_ids

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, vocab_size=256)
    out = encode_token_ids(docs, vocab, "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"),
        F.array_join(F.transform("token_ids", lambda x: x.cast("string")), ",").alias(
            "token_ids"
        ),
        "n_unk",
    )


@q(
    "domain_blocklist_filter",
    """SELECT doc_id, lower(source || '.example') AS host FROM documents
       WHERE lower(source || '.example') NOT IN ('src1.example', 'src3.example')""",
)
def domain_blocklist_filter(spark, sf_dir):
    """Domain blocklist filter over synthesized urls (documents carry no
    url column; host = source-derived by construction on both sides):
    broadcast anti-join on the parsed host — rows from blocked hosts
    vanish, everything else passes untouched."""
    from xmlschemavalidator_spark.textops import drop_blocklisted_domains, url_host

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
                 F.col("doc_id").cast("string")),
    )
    block = spark.createDataFrame([("src1.example",), ("src3.example",)], "host string")
    kept = drop_blocklisted_domains(docs, "url", block)
    return kept.select("doc_id", url_host(F.col("url")).alias("host"))


@q(
    "heavy_hitters_approx",
    """SELECT CAST(source AS VARCHAR) AS value,
              CAST(count(*) AS BIGINT) AS n,
              CAST(round(count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE), 6)
                   AS DOUBLE) AS share
       FROM documents GROUP BY source
       HAVING count(*) / CAST((SELECT count(*) FROM documents) AS DOUBLE) >= 0.05
       ORDER BY n DESC, value""",
)
def heavy_hitters_approx(spark, sf_dir):
    """Sketched heavy hitters verified exactly: freqItems candidates are a
    guaranteed SUPERSET of values above the support threshold, and the
    exact count pass + share filter reduces them to precisely the true
    answer — which is why this approximate operator still has an exact
    SQL oracle."""
    from xmlschemavalidator_spark.checks.stats import approx_heavy_hitters

    return approx_heavy_hitters(_t(spark, sf_dir, "documents"), "source", 0.05)


@q("incremental_near_dedup_roundtrip")  # no oracle: stateful (writes a store)
def incremental_near_dedup_roundtrip(spark, sf_dir):
    """Cross-batch NEAR-dup dedup (persistent LSH bucket store) exercised
    end-to-end: batch 1 = the corpus (committed); batch 2 = re-keyed
    near-dup variants of half of it (one token appended — most shingles,
    hence most band buckets, survive) plus genuinely fresh docs. Output
    pins kept counts per batch plus how many of batch 2's planted
    near-dups were caught by the store (rows-only: stateful by design;
    the LSH collision itself is engine-specific xxhash64 banding)."""
    import shutil
    import tempfile

    from xmlschemavalidator_spark.dedup import (
        commit_seen_buckets,
        incremental_near_dedup,
    )

    tmp = tempfile.mkdtemp(prefix="incneardedup_")
    try:
        store = f"{tmp}/buckets"
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        b1 = incremental_near_dedup(
            docs, "doc_id", store, batch_id="b1", within_batch=False
        )
        n1 = b1.count()
        commit_seen_buckets(b1, "doc_id", store, batch_id="b1")
        # re-keying: doc_id*10 + tag keeps near (tag 1) and fresh (tag 2)
        # ids disjoint and classifiable AT ANY SCALE FACTOR (an additive
        # offset scheme collides once corpus ids pass the offset)
        near = docs.where(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") * 10 + 1).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended")).alias("text"),
        )
        fresh = docs.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") * 10 + 2).alias("doc_id"),
            F.md5(F.col("text")).alias("text"),  # hash garbage: no shared shingles
        )
        n_near_planted = near.count()
        b2 = incremental_near_dedup(
            near.unionByName(fresh), "doc_id", store, batch_id="b2",
            within_batch=False,
        )
        n2 = b2.count()
        n_near_kept = b2.where(F.col("doc_id") % 10 == 1).count()
        return spark.createDataFrame(
            [(n1, n2, n_near_planted, n_near_planted - n_near_kept)],
            "n_batch1_kept long, n_batch2_kept long, "
            "n_near_planted long, n_near_caught long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@q("incremental_dedup_roundtrip")  # no oracle: stateful (writes a store)
def incremental_dedup_roundtrip(spark, sf_dir):
    """Cross-batch incremental dedup exercised end-to-end: batch 1 = the
    corpus; batch 2 = re-keyed duplicates of half of it plus fresh docs.
    Output pins the kept counts per batch (rows-only: the operator owns a
    persistent fingerprint store under a run-local tmpdir)."""
    import shutil
    import tempfile

    from xmlschemavalidator_spark.dedup import (
        commit_seen_fingerprints,
        incremental_exact_dedup,
    )

    tmp = tempfile.mkdtemp(prefix="incdedup_")
    try:
        store = f"{tmp}/fps"
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        b1 = incremental_exact_dedup(docs, "doc_id", store)
        n1 = b1.count()
        commit_seen_fingerprints(b1, store)
        half_dups = docs.where(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        fresh = docs.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.lit("fresh variant: "), F.col("text")).alias("text"),
        )
        b2 = incremental_exact_dedup(half_dups.unionByName(fresh), "doc_id", store)
        n2 = b2.count()
        return spark.createDataFrame(
            [(n1, n2)], "n_batch1_kept long, n_batch2_kept long"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@q(
    "text_pii_scan",
    r"""WITH t AS (
          SELECT doc_id,
                 text || CASE WHEN doc_id % 10 = 0
                              THEN ' contact: user' || CAST(doc_id AS VARCHAR)
                                   || '@example.com or 555-123-4567'
                              ELSE '' END AS text
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text,
                 '\+?\d{3}[-. ]\d{3}[-. ]\d{4}')) AS BIGINT) AS n_phone
        FROM t""",
)
def text_pii_scan(spark, sf_dir):
    """PII pattern scan (email/phone counts per doc). The corpus is
    synthetic and clean, so a deterministic contact line is appended to
    every 10th doc IN BOTH ENGINES — the oracle then verifies nonzero
    counts, not a trivially all-zero table."""
    from xmlschemavalidator_spark.textops import pii_counts

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.lit(" contact: user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-123-4567"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    c = pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        c["n_email"].cast("bigint").alias("n_email"),
        c["n_phone"].cast("bigint").alias("n_phone"),
    )


@q(
    "text_pii_redaction",
    r"""WITH t AS (
          SELECT doc_id,
                 text || CASE WHEN doc_id % 10 = 0
                              THEN ' contact: user' || CAST(doc_id AS VARCHAR)
                                   || '@example.com or 555-123-4567 at 10.0.0.'
                                   || CAST(doc_id % 256 AS VARCHAR)
                              ELSE '' END AS text
          FROM documents),
        r AS (
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                     '\+?\d{3}[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g')
                 AS clean_text
          FROM t)
        SELECT doc_id, clean_text,
               CAST(len(regexp_extract_all(clean_text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                 + len(regexp_extract_all(clean_text,
                 '\+?\d{3}[-. ]\d{3}[-. ]\d{4}'))
                 + len(regexp_extract_all(clean_text,
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
                 AS n_pii_after
        FROM r""",
)
def text_pii_redaction(spark, sf_dir):
    """PII redaction (VERDICT r2 item 5): the cleaned text column with
    every email/phone/IPv4 match rewritten to a typed placeholder, plus
    the residual-match count (must be 0 — asserted by the oracle hash,
    since DuckDB computes the same scan over its own redaction). Same
    deterministic planted contact line as text_pii_scan so the query
    exercises real rewrites; replacement order (email, phone, ipv4) is
    identical in both engines."""
    from xmlschemavalidator_spark.textops import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.lit(" contact: user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-123-4567 at 10.0.0."),
                    (F.col("doc_id") % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    clean = docs.select("doc_id", redact_pii(F.col("text")).alias("clean_text"))
    after = pii_counts(F.col("clean_text"))
    residual = None
    for c in after.values():
        residual = c if residual is None else residual + c
    return clean.select(
        "doc_id", "clean_text", residual.cast("bigint").alias("n_pii_after")
    )


_SUGGEST_ORACLE = """
SELECT * FROM (
  SELECT 'doc_id' AS col, 'range' AS kind,
         '[' || CAST(min(doc_id) AS VARCHAR) || ', ' || CAST(max(doc_id) AS VARCHAR) || ']' AS detail
  FROM documents
  UNION ALL
  SELECT 'n_chars', 'range',
         '[' || CAST(min(n_chars) AS VARCHAR) || ', ' || CAST(max(n_chars) AS VARCHAR) || ']'
  FROM documents
  UNION ALL
  SELECT 'doc_id', 'required', 'no nulls observed' FROM documents
    HAVING count(CASE WHEN doc_id IS NULL THEN 1 END) = 0
  UNION ALL
  SELECT 'text', 'required', 'no nulls observed' FROM documents
    HAVING count(CASE WHEN text IS NULL THEN 1 END) = 0
  UNION ALL
  SELECT 'lang', 'required', 'no nulls observed' FROM documents
    HAVING count(CASE WHEN lang IS NULL THEN 1 END) = 0
  UNION ALL
  SELECT 'source', 'required', 'no nulls observed' FROM documents
    HAVING count(CASE WHEN source IS NULL THEN 1 END) = 0
  UNION ALL
  SELECT 'n_chars', 'required', 'no nulls observed' FROM documents
    HAVING count(CASE WHEN n_chars IS NULL THEN 1 END) = 0
  UNION ALL
  SELECT 'lang', 'enumeration', CAST(count(DISTINCT lang) AS VARCHAR) || ' values'
  FROM documents HAVING count(DISTINCT lang) BETWEEN 1 AND 20
  UNION ALL
  SELECT 'source', 'enumeration', CAST(count(DISTINCT source) AS VARCHAR) || ' values'
  FROM documents HAVING count(DISTINCT source) BETWEEN 1 AND 20
  UNION ALL
  SELECT 'text', 'enumeration', CAST(count(DISTINCT text) AS VARCHAR) || ' values'
  FROM documents HAVING count(DISTINCT text) BETWEEN 1 AND 20
) ORDER BY col, kind"""


@q("suggest_constraints", _SUGGEST_ORACLE)
def suggest_constraints(spark, sf_dir):
    """Deequ-style constraint suggestion: one profiling pass proposes the
    declaration a human would tighten — observed ranges, completeness as
    required checks, low-cardinality strings as enumerations. The oracle
    recomputes every suggestion from SQL aggregates, so the profile
    signals themselves are verified, not just the plumbing."""
    from xmlschemavalidator_spark.checks.suggest import suggest_rules

    docs = _t(spark, sf_dir, "documents")
    rows = [(s.column, s.kind, s.detail) for s in suggest_rules(docs)]
    return spark.createDataFrame(rows, "col string, kind string, detail string").orderBy(
        "col", "kind"
    )


def _inc_rule() -> FieldRule:
    return FieldRule(
        "n_chars_range",
        Restriction(base="integer", facets=(MinInclusive(36), MaxInclusive(4200))),
        column="n_chars",
    )


_INC_MUTATION_SQL = """
  SELECT doc_id, text, lang, source,
         CASE WHEN doc_id % 50 = 0 THEN n_chars + 3000 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars + 4000
  FROM documents WHERE doc_id < 10
"""


@q(
    "incremental_revalidation",
    f"""WITH new AS ({_INC_MUTATION_SQL})
        SELECT doc_id, 'n_chars_range' AS rule_id,
               CAST(n_chars AS VARCHAR) AS observed_value
        FROM new
        WHERE NOT coalesce({_inc_rule().ok_sql(PREDEF_TYPES)}, FALSE)""",
)
def incremental_revalidation(spark, sf_dir):
    """Incremental revalidation invariant as the oracle: Spark validates
    ONLY the diff (added/changed keys) and carries prior violations
    forward (incremental.py); the oracle fully validates the mutated
    table. Equality proves the carry/fresh/retire algebra — the operator
    that makes a 10^12-row daily revalidation affordable."""
    from xmlschemavalidator_spark.incremental import incremental_revalidate

    rs = RuleSet(rules=[_inc_rule()])
    docs = _t(spark, sf_dir, "documents")
    mutated = docs.where(F.col("doc_id") % 97 != 0).withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 50 == 0, F.col("n_chars") + 3000).otherwise(
            F.col("n_chars")
        ),
    )
    added = (
        docs.where(F.col("doc_id") < 10)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
        .withColumn("n_chars", F.col("n_chars") + 4000)
    )
    new = mutated.unionByName(added)
    prev = validate(docs, rs, key="doc_id").violations
    return incremental_revalidate(prev, docs, new, rs, key="doc_id")


@q("pages_domain_stats")
def pages_domain_stats(spark, sf_dir):
    """Hot-domain detection over web pages (rows-only by design: the input
    is the deterministic pages generator, which DuckDB cannot see): doc
    count + corpus share per host — the decision input for salting hot
    lang/domain partitions (checks/skew.py); the generator plants two hot
    hosts at ~20% each, which must surface at the top. The total rides
    along as a broadcast 1-row aggregate, not a second scan."""
    from xmlschemavalidator_spark.datagen import pages
    from xmlschemavalidator_spark.textops import url_host

    df = pages(spark, 20_000, partitions=8)
    per = df.groupBy(url_host(F.col("url")).alias("domain")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    total = df.agg(F.count(F.lit(1)).cast("double").alias("_t"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "domain",
            "n_docs",
            F.round(F.col("n_docs") / F.col("_t"), 6).cast("double").alias("share"),
        )
        .orderBy(F.desc("n_docs"), "domain")
        .limit(20)
    )


@q(
    "type_numeric_family",
    """SELECT doc_id,
              (TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) IS NOT NULL) AS float_ok,
              (TRY_CAST(CAST(lang AS VARCHAR) AS DOUBLE) IS NOT NULL) AS lang_numeric_ok
       FROM documents""",
)
def type_numeric_family(spark, sf_dir):
    """float/double/decimal are all aliases of the numeric? check
    (core.clj:220,225-228): numeric strings pass, words fail — the
    dynamic-typing boundary on real columns."""
    docs = _t(spark, sf_dir, "documents")
    flt = PREDEF_TYPES.resolve("float")
    return docs.select(
        "doc_id",
        flt.to_column(F.col("n_chars"), PREDEF_TYPES).alias("float_ok"),
        flt.to_column(F.col("lang"), PREDEF_TYPES).alias("lang_numeric_ok"),
    )


@q(
    "type_unsigned_chain",
    """SELECT doc_id,
              (TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) IS NOT NULL
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE)
                   = floor(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE))
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) >= 0.0
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) <= 255.0) AS ubyte_ok,
              (TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) IS NOT NULL
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE)
                   = floor(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE))
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) >= 0.0
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) <= 65535.0) AS ushort_ok
       FROM documents""",
)
def type_unsigned_chain(spark, sf_dir):
    """unsignedByte/unsignedShort from the derivation chain
    (core.clj:237-240): n_chars (47..4200 at this SF) straddles the
    255 boundary, so the two levels disagree on real rows."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        PREDEF_TYPES.resolve("unsignedByte")
        .to_column(F.col("n_chars"), PREDEF_TYPES)
        .alias("ubyte_ok"),
        PREDEF_TYPES.resolve("unsignedShort")
        .to_column(F.col("n_chars"), PREDEF_TYPES)
        .alias("ushort_ok"),
    )


@q(
    "ruleset_extension_verdicts",
    """SELECT doc_id,
              (lang IS NOT NULL) AS rule_base_lang_ok,
              (TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) IS NOT NULL
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE)
                   = floor(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE))
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) >= 100.0
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) <= 500.0) AS rule_ext_range_ok
       FROM documents""",
)
def ruleset_extension_verdicts(spark, sf_dir):
    """complexContent/extension semantics end-to-end (core.clj:177-195):
    rules(extended) = rules(base) UNION rules(ext), evaluated in one pass;
    the extension's shadowing range REPLACES the base's looser one."""
    from xmlschemavalidator_spark.engine import ok_col_name

    base = RuleSet(rules=[
        FieldRule("base_lang", RequiredAttr(), column="lang"),
        FieldRule("ext_range", _RANGE_RULE, column="n_chars"),  # shadowed below
    ])
    ext = RuleSet(rules=[
        FieldRule(
            "ext_range",
            Restriction(base="integer", facets=(MinInclusive(100), MaxInclusive(500))),
            column="n_chars",
        ),
    ])
    merged = base.extend(ext)
    res = validate(_t(spark, sf_dir, "documents"), merged, key="doc_id")
    return res.verdicts.select(
        "doc_id",
        F.col(ok_col_name("base_lang")).alias("rule_base_lang_ok"),
        F.col(ok_col_name("ext_range")).alias("rule_ext_range_ok"),
    )


@q(
    "rule_ref_indirection",
    """SELECT doc_id, 'alias_of_range' AS rule_id,
              CAST(n_chars AS VARCHAR) AS observed_value
       FROM documents
       WHERE NOT coalesce(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) IS NOT NULL
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE)
                   = floor(TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE))
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) >= 100.0
               AND TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) <= 400.0, FALSE)""",
)
def rule_ref_indirection(spark, sf_dir):
    """ref= indirection (core.clj:80-93; parser.clj:186-191): a rule that
    delegates to a named rule resolves at compile time; its violations are
    byte-identical to the target's, under the alias's rule_id."""
    from xmlschemavalidator_spark.compiler import RuleRef

    rs = RuleSet(rules=[
        FieldRule("target_range", _RANGE_RULE, column="n_chars"),
        FieldRule("alias_of_range", RuleRef("target_range")),
    ])
    res = validate(_t(spark, sf_dir, "documents"), rs, key="doc_id")
    return res.violations.where(F.col("rule_id") == "alias_of_range")


@q(
    "structural_undefined_children",
    """SELECT doc_id,
              coalesce(array_to_string(
                list_filter(['text', lang],
                            t -> NOT list_contains(['text','en','de','sv'], t)),
                ','), '') AS undefined_tags
       FROM documents""",
)
def structural_undefined_children(spark, sf_dir):
    """Undeclared-child detection (the reference's [false :undefined tag]
    pseudo-verdict, parser.clj:216) over a constructed children array:
    tags ('text', <lang>) vs declared ('text','en','de','sv') — out-of-enum
    langs surface as undefined tags."""
    from xmlschemavalidator_spark.rules.structural import undefined_children

    docs = _t(spark, sf_dir, "documents")
    children = F.array(
        F.struct(F.lit("text").alias("tag")),
        F.struct(F.col("lang").alias("tag")),
    )
    return docs.select(
        "doc_id",
        F.array_join(
            undefined_children(children, ("text", "en", "de", "sv")), ","
        ).alias("undefined_tags"),
    )


_CV_STRING = PREDEF_TYPES.resolve("string")
_CV_NC = Restriction(base="integer", facets=(MinInclusive(200), MaxInclusive(2500)))
_CV_STRING_SQL_TEXT = _CV_STRING.sql_expr("text", PREDEF_TYPES)
_CV_STRING_SQL_LANG = _CV_STRING.sql_expr("lang", PREDEF_TYPES)
_CV_NC_SQL = _CV_NC.sql_expr("CAST(n_chars AS VARCHAR)", PREDEF_TYPES)
_CV_NC_SQL_LANG = _CV_NC.sql_expr("lang", PREDEF_TYPES)
# child 3's tag is DATA (the doc's lang): replicate the when-chain dispatch
_CV_C3_OK = (
    f"(CASE WHEN lang = 'text' THEN coalesce({_CV_STRING_SQL_LANG}, FALSE) "
    f"WHEN lang = 'nc' THEN coalesce({_CV_NC_SQL_LANG}, FALSE) "
    f"WHEN lang = 'en' THEN coalesce({_CV_STRING_SQL_LANG}, FALSE) "
    f"ELSE FALSE END)"
)

@q(
    "structural_child_verdicts",
    f"""SELECT doc_id,
               coalesce(lang = 'en', FALSE) AS seq_ok,
               coalesce({_CV_STRING_SQL_TEXT}, FALSE) AS c1_ok,
               CAST(text AS VARCHAR) AS c1_value,
               coalesce({_CV_NC_SQL}, FALSE) AS c2_ok,
               CAST(n_chars AS VARCHAR) AS c2_value,
               lang AS c3_tag,
               {_CV_C3_OK} AS c3_ok,
               (CASE WHEN lang IN ('text','nc','en') THEN lang
                     ELSE ':undefined' END) AS c3_value,
               (coalesce(lang = 'en', FALSE)
                AND coalesce({_CV_STRING_SQL_TEXT}, FALSE)
                AND coalesce({_CV_NC_SQL}, FALSE)
                AND {_CV_C3_OK}) AS doc_ok
        FROM documents""",
)
def structural_child_verdicts(spark, sf_dir):
    """Per-child verdicts inside a (possibly failing) container
    (parser.clj:208-226; parser_test.clj:305-355): every child is judged
    against the element declared FOR ITS TAG even when the sequence
    condition fails; undeclared tags get the [false :undefined tag]
    pseudo-verdict. Children here are built from documents columns — the
    third child's tag is the doc's lang, so non-'en' docs exercise both
    the failing container and the undeclared-child paths. Flattened to
    scalar columns for the oracle compare."""
    from xmlschemavalidator_spark.rules.structural import (
        container_verdict,
        nested_valid,
    )

    docs = _t(spark, sf_dir, "documents")
    children = F.array(
        F.struct(F.lit("text").alias("tag"), F.col("text").cast("string").alias("value")),
        F.struct(F.lit("nc").alias("tag"), F.col("n_chars").cast("string").alias("value")),
        F.struct(F.col("lang").alias("tag"), F.col("lang").alias("value")),
    )
    decl = [("text", _CV_STRING), ("nc", _CV_NC), ("en", _CV_STRING)]
    v = container_verdict(children, decl, "sequence", PREDEF_TYPES)
    cv = v["children"]
    return docs.select(
        "doc_id",
        v["ok"].alias("seq_ok"),
        F.get(cv, 0)["ok"].alias("c1_ok"),
        F.get(cv, 0)["value"].alias("c1_value"),
        F.get(cv, 1)["ok"].alias("c2_ok"),
        F.get(cv, 1)["value"].alias("c2_value"),
        F.get(cv, 2)["tag"].alias("c3_tag"),
        F.get(cv, 2)["ok"].alias("c3_ok"),
        F.get(cv, 2)["value"].alias("c3_value"),
        nested_valid(v).alias("doc_ok"),
    )


from xmlschemavalidator_spark.xpath_assert import Assertion as _Assertion

_ASSERT_RULES = [
    ("a_len", _Assertion("number(n_chars) >= string-length(lang) * 20")),
    ("a_src", _Assertion("starts-with(source, 'src') and contains(source, '1') "
                         "or number(n_chars) > 1000")),
]


def _assert_rules():
    return _ASSERT_RULES


@q(
    "xsd_assertions",
    "SELECT doc_id, "
    + ", ".join(f"{rule.sql_expr()} AS {name}_ok" for name, rule in _ASSERT_RULES)
    + " FROM documents",
)
def xsd_assertions(spark, sf_dir):
    """XSD 1.1 xs:assert cross-field rules (beyond the reference — it
    predates 1.1): the XPath-subset tests compile to Catalyst expressions
    AND to the DuckDB oracle from one AST (xpath_assert.to_sql), so the
    two engines cannot drift. Mixed arithmetic, string functions, and
    boolean structure exercised over documents columns."""
    docs = _t(spark, sf_dir, "documents")
    cols = [F.col("doc_id")]
    for name, rule in _assert_rules():
        cols.append(rule.to_column(None, PREDEF_TYPES).alias(f"{name}_ok"))
    return docs.select(*cols)


_IDENTITY_XSD = """<schema>
  <complexType name="doct"><sequence>
    <element name="doc_id" type="long"/>
    <element name="lang" type="string"/>
    <element name="n_chars" type="integer"/>
  </sequence></complexType>
  <element name="doc" type="doct">
    <key name="k_doc"><selector xpath="."/><field xpath="doc_id"/></key>
    <unique name="u_lang"><selector xpath="."/><field xpath="lang"/></unique>
    <keyref name="r_nc" refer="k_doc">
      <selector xpath="."/><field xpath="n_chars"/>
    </keyref>
  </element>
</schema>"""

@q(
    "xsd_identity_constraints",
    """SELECT 'u_lang' AS "constraint", 'unique' AS kind, 'duplicate' AS reason,
              lang AS field_value, CAST(count(*) AS BIGINT) AS n_rows
       FROM documents WHERE lang IS NOT NULL
       GROUP BY lang HAVING count(*) > 1
       UNION ALL
       SELECT 'k_doc', 'key', 'duplicate', CAST(doc_id AS VARCHAR),
              CAST(count(*) AS BIGINT)
       FROM documents WHERE doc_id IS NOT NULL
       GROUP BY doc_id HAVING count(*) > 1
       UNION ALL
       SELECT 'r_nc', 'keyref', 'dangling', CAST(n_chars AS VARCHAR),
              CAST(count(*) AS BIGINT)
       FROM documents WHERE n_chars IS NOT NULL
       GROUP BY n_chars
       HAVING CAST(n_chars AS VARCHAR) NOT IN
              (SELECT CAST(doc_id AS VARCHAR) FROM documents
               WHERE doc_id IS NOT NULL)""",
)
def xsd_identity_constraints(spark, sf_dir):
    """XSD identity constraints (xs:key/unique/keyref, XSD 1.0 §3.11) as
    dataset-level checks, parsed from a real XSD: key→uniqueness,
    unique→uniqueness (NULL-exempt), keyref→referential (left-anti vs the
    distinct key set). Langs duplicate (violations), doc_ids are a clean
    key (no rows), and n_chars values beyond the doc_id range dangle —
    the three reasons exercised in one output."""
    from xmlschemavalidator_spark.xsd import parse_xsd

    schema = parse_xsd(_IDENTITY_XSD)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return schema.identity_violations(docs, "doc")


def _digits_type():
    from xmlschemavalidator_spark.xsd import compile_fragment

    return compile_fragment(
        """<simpleType><restriction base="decimal">
             <totalDigits value="5"/>
             <fractionDigits value="1"/>
           </restriction></simpleType>"""
    )


def _ws_type():
    from xmlschemavalidator_spark.xsd import compile_fragment

    return compile_fragment(
        """<simpleType><restriction base="string">
             <whiteSpace value="collapse"/>
             <enumeration value="en"/>
             <enumeration value="de"/>
           </restriction></simpleType>"""
    )


_DIGITS_VAL_SQL = "(CAST(n_chars AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR))"
_WS_VAL_SQL = "('  ' || lang || chr(9) || '')"

@q(
    "facet_digits_whitespace",
    f"""SELECT doc_id,
               {_digits_type().sql_expr(_DIGITS_VAL_SQL, PREDEF_TYPES)} AS digits_ok,
               {_ws_type().sql_expr(_WS_VAL_SQL, PREDEF_TYPES)} AS ws_ok
        FROM documents""",
)
def facet_digits_whitespace(spark, sf_dir):
    """Beyond-reference XSD spec facets, parsed from real XSD fragments:
    totalDigits/fractionDigits over a synthesized decimal literal
    (lexical canonicalization — both engines count significant digits on
    the regex-normalized form) and whiteSpace=collapse normalizing a
    padded lang before an enumeration. The oracle SQL is generated by the
    same compiled types (sql_expr), so Spark and DuckDB share one
    definition."""
    docs = _t(spark, sf_dir, "documents")
    digits_val = F.concat(
        F.col("n_chars").cast("string"), F.lit("."), (F.col("doc_id") % 100).cast("string")
    )
    ws_val = F.concat(F.lit("  "), F.col("lang"), F.lit("\t"))
    return docs.select(
        "doc_id",
        _digits_type().to_column(digits_val, PREDEF_TYPES).alias("digits_ok"),
        _ws_type().to_column(ws_val, PREDEF_TYPES).alias("ws_ok"),
    )


_NESTED_WC_XSD = """<schema>
  <complexType name="doct">
    <sequence>
      <element name="text" type="string"/>
      <element name="nc" type="ncrange"/>
      <any processContents="skip"/>
    </sequence>
  </complexType>
  <simpleType name="ncrange">
    <restriction base="integer">
      <minInclusive value="200"/><maxInclusive value="2500"/>
    </restriction>
  </simpleType>
  <element name="doc" type="doct"/>
</schema>"""

@q(
    "xsd_nested_wildcard_verdicts",
    f"""SELECT doc_id,
               TRUE AS seq_ok,
               coalesce({_CV_STRING_SQL_TEXT}, FALSE) AS c1_ok,
               coalesce({_CV_NC_SQL}, FALSE) AS c2_ok,
               lang AS c3_tag,
               TRUE AS c3_ok,
               lang AS c3_value,
               (coalesce({_CV_STRING_SQL_TEXT}, FALSE)
                AND coalesce({_CV_NC_SQL}, FALSE)) AS doc_ok
        FROM documents""",
)
def xsd_nested_wildcard_verdicts(spark, sf_dir):
    """Schema-driven nested validation (XsdSchema.nested_container_verdict,
    THE consumer of the parsed xs:any flag): a sequence of (text, nc) plus
    a wildcard — the third, undeclared child (tag = the doc's lang) passes
    with its observed value and the sequence condition holds with the
    declared tags as an in-order subsequence. Oracle = the same type
    predicates (sql_expr) with the wildcard consequences made explicit."""
    from xmlschemavalidator_spark.rules.structural import nested_valid
    from xmlschemavalidator_spark.xsd import parse_xsd

    schema = parse_xsd(_NESTED_WC_XSD)
    docs = _t(spark, sf_dir, "documents")
    children = F.array(
        F.struct(F.lit("text").alias("tag"), F.col("text").cast("string").alias("value")),
        F.struct(F.lit("nc").alias("tag"), F.col("n_chars").cast("string").alias("value")),
        F.struct(F.col("lang").alias("tag"), F.col("lang").alias("value")),
    )
    v = schema.nested_container_verdict(children, "doc")
    cv = v["children"]
    return docs.select(
        "doc_id",
        v["ok"].alias("seq_ok"),
        F.get(cv, 0)["ok"].alias("c1_ok"),
        F.get(cv, 1)["ok"].alias("c2_ok"),
        F.get(cv, 2)["tag"].alias("c3_tag"),
        F.get(cv, 2)["ok"].alias("c3_ok"),
        F.get(cv, 2)["value"].alias("c3_value"),
        nested_valid(v).alias("doc_ok"),
    )


def _list_type():
    """xs:list over documents.text: every whitespace token must be a string
    (not numeric-parseable) of length <= 5 — spec-enforced list semantics
    (grammar parser.clj:97; parse-only in the reference)."""
    from xmlschemavalidator_spark.xsd import compile_fragment

    return compile_fragment(
        """<list><simpleType><restriction base="string">
             <maxLength value="5"/>
           </restriction></simpleType></list>"""
    )


@q(
    "xsd_list_type",
    f"SELECT doc_id, {_list_type().sql_expr('text', PREDEF_TYPES)} AS list_ok FROM documents",
)
def xsd_list_type(spark, sf_dir):
    """ListType verdict per document: compiled to ONE higher-order forall
    over a split — no explode, no shuffle, stays in whole-stage codegen."""
    t = _list_type()
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", t.to_column(F.col("text"), PREDEF_TYPES).alias("list_ok")
    )


@q(
    "join_q3_shipping_priority",
    """SELECT o_orderkey,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
              strftime(o_orderdate, '%Y-%m-%d') AS orderdate
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING' AND l_shipdate > TIMESTAMP '2000-01-01'
       GROUP BY o_orderkey, o_orderdate
       ORDER BY revenue DESC, o_orderkey LIMIT 20""",
)
def join_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter -> 3-way join -> agg -> top-k.
    The customer filter pushes to the scan; AQE turns the filtered dim side
    into a broadcast; top-k is TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("2000-01-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select(
            "o_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@q(
    "join_q5_region_revenue",
    """SELECT n_name,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
       FROM region JOIN nation ON n_regionkey = r_regionkey
                   JOIN customer ON c_nationkey = n_nationkey
                   JOIN orders ON o_custkey = c_custkey
                   JOIN lineitem ON l_orderkey = o_orderkey
       WHERE r_name = 'ASIA'
       GROUP BY n_name""",
)
def join_q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 5-way star join rooted at a 1-row region filter —
    Catalyst reorders so the tiny filtered dims broadcast down the chain."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


_REV_DEC = """CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)"""


def _rev_col():
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )


@q(
    "join_q7_volume_shipping",
    f"""SELECT supp_nation, cust_nation, l_year, {_REV_DEC} AS revenue
        FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     CAST(year(l_shipdate) AS BIGINT) AS l_year,
                     l_extendedprice, l_discount
              FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                   JOIN orders ON o_orderkey = l_orderkey
                   JOIN customer ON c_custkey = o_custkey
                   JOIN nation n1 ON s_nationkey = n1.n_nationkey
                   JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, l_year""",
)
def join_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional nation-pair trade volume — the SAME
    dim table joined twice under different roles (supplier's nation vs
    customer's nation), a disjunctive cross-role filter, and a by-year
    rollup. Both nation sides broadcast; the fact scans once."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.round(F.sum(_rev_col()), 2).cast("double").alias("revenue"))
    )


@q(
    "join_q12_late_shipping",
    """SELECT l_linestatus,
              CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
       GROUP BY l_linestatus""",
)
def join_q12_late_shipping(spark, sf_dir):
    """TPC-H Q12 shape (shipmode column absent from this corpus, so the
    slow-shipment predicate is date arithmetic): lineitems shipped ≥30
    days after ordering, with the classic conditional-count split by
    order priority. Join + CASE-sum partial aggregation."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(urgent, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


@q(
    "join_q14_promo_revenue",
    """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
                AS ship_month,
              CAST(round(sum(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))
                   ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE)
                AS promo_revenue,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
                AS total_revenue
       FROM lineitem JOIN part ON p_partkey = l_partkey
       GROUP BY ship_month""",
)
def join_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: per-month promo vs total revenue (the published
    form divides; emitting both DECIMAL sums keeps the oracle exact with
    no float division order to diverge). part broadcasts; one fact scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = _rev_col()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
            .cast("long")
            .alias("ship_month")
        )
        .agg(
            F.round(F.sum(promo), 2).cast("double").alias("promo_revenue"),
            F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
        )
    )


@q(
    "join_q19_bracketed_revenue",
    f"""SELECT {_REV_DEC} AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 40)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)""",
)
def join_q19_bracketed_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-bracket predicate spanning both
    join sides — the classic test that complex OR filters stay inside
    whole-stage codegen after the broadcast join instead of falling back
    row-at-a-time. Single-row global aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")

    def bracket(brand, s_lo, s_hi, q_lo, q_hi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    cond = (
        bracket("Brand#1", 1, 15, 1, 20)
        | bracket("Brand#7", 10, 30, 10, 40)
        | bracket("Brand#13", 20, 50, 20, 50)
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .where(cond)
        .agg(F.round(F.sum(_rev_col()), 2).cast("double").alias("revenue"))
    )


@q(
    "agg_q11_value_share",
    """WITH v AS (SELECT l_partkey,
                         sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,4))))
                           AS val
                  FROM lineitem GROUP BY l_partkey),
        t AS (SELECT sum(val) AS total FROM v)
        SELECT l_partkey, CAST(round(val, 2) AS DOUBLE) AS part_value
        FROM v CROSS JOIN t
        WHERE val * 2000 > total""",
)
def agg_q11_value_share(spark, sf_dir):
    """TPC-H Q11 shape: per-key value vs a GLOBAL aggregate scalar — the
    share predicate is division-free (val·2000 > total in DECIMAL, i.e.
    share > 0.05% — 971/2000 parts at sf0.01, measured: a strict subset,
    never the forbidden 0-row or all-rows oracle match) so the kept-part
    set is exact. The 1-row total broadcasts (cross join of an aggregate — the
    checks/drift.py pattern); one fact scan feeds both sides."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(F.sum(_rev_col()).alias("val"))
    t = v.agg(F.sum("val").alias("total"))
    return (
        v.crossJoin(F.broadcast(t))
        .where(F.col("val") * 2000 > F.col("total"))
        .select(
            "l_partkey",
            F.round(F.col("val"), 2).cast("double").alias("part_value"),
        )
    )


@q(
    "agg_q13_order_histogram",
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
       FROM (SELECT c.c_custkey,
                    CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
             FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             GROUP BY c.c_custkey)
       GROUP BY c_count""",
)
def agg_q13_order_histogram(spark, sf_dir):
    """TPC-H Q13 shape: distribution of per-customer order counts —
    LEFT OUTER join so order-less customers land in the 0 bucket, then a
    second aggregation over the first's output (two shuffles by
    construction; both partial-aggregate)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@q(
    "agg_q16_supplier_count",
    """SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
                AS supplier_cnt
       FROM part JOIN lineitem ON p_partkey = l_partkey
       WHERE l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_size""",
)
def agg_q16_supplier_count(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier count per part attribute with a
    NOT-IN exclusion list (negative-balance suppliers stand in for the
    spec's complaint filter) — the exclusion compiles to a broadcast
    anti join, the distinct count to a two-phase aggregate."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@q(
    "agg_q22_idle_customers",
    """WITH pos AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                             AS DECIMAL(28,2)) AS s,
                           CAST(COUNT(*) AS BIGINT) AS n
                    FROM customer WHERE c_acctbal > 0)
       SELECT CAST(c_custkey % 10 AS STRING) AS cntrycode,
              CAST(COUNT(*) AS BIGINT) AS numcust,
              CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
                AS totacctbal
       FROM customer CROSS JOIN pos
       WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
         AND c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_orderpriority = '1-URGENT')
       GROUP BY cntrycode""",
)
def agg_q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no URGENT
    orders (global-average scalar + anti join; every customer has SOME
    order at this SF, so the spec's no-orders filter would be the
    forbidden 0-row match — 75 rows survive the urgent variant,
    measured), bucketed by a country-code analog. The average comparison is division-free (bal·n > sum in
    DECIMAL) so boundary membership is engine-exact; the order-key
    exclusion is a left anti join on the fact side."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos = (
        c.where(F.col("c_acctbal") > 0)
        .agg(
            F.sum(bal).cast("decimal(28,2)").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .where(bal * F.col("n") > F.col("s"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 10).cast("string").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(F.sum(bal), 2).cast("double").alias("totacctbal"),
        )
    )


@q(
    "join_q2_min_cost_supplier",
    """WITH cost AS (
         SELECT l_partkey AS pk, l_suppkey AS sk,
                min(CAST(l_extendedprice AS DECIMAL(18,2))) AS c
         FROM lineitem GROUP BY 1, 2
       ), mn AS (SELECT pk, min(c) AS m FROM cost GROUP BY pk)
       SELECT p_partkey, s_name, n_name, CAST(c AS DOUBLE) AS min_cost
       FROM cost JOIN mn USING (pk)
            JOIN part ON p_partkey = pk
            JOIN supplier ON s_suppkey = sk
            JOIN nation ON n_nationkey = s_nationkey
       WHERE c = m AND p_size = 5""",
)
def join_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (correlated-min subquery): for each size-5 part,
    the supplier(s) achieving the per-part MINIMUM cost — the spec's
    partsupp.ps_supplycost is absent from this corpus, so cost is the
    measured min extendedprice per (part, supplier) from the fact table
    (36 winner rows at sf0.01, a strict subset). The correlated min
    compiles to an agg joined back on the group key (no per-row
    subquery); the min compare is exact DECIMAL."""
    li = _t(spark, sf_dir, "lineitem")
    cost = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("c"))
    mn = cost.groupBy("pk").agg(F.min("c").alias("m"))
    p = _t(spark, sf_dir, "part").where(F.col("p_size") == 5)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        cost.join(mn, "pk")
        .where(F.col("c") == F.col("m"))
        .join(p, F.col("p_partkey") == F.col("pk"))
        .join(s, F.col("s_suppkey") == F.col("sk"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            "p_partkey", "s_name", "n_name",
            F.col("c").cast("double").alias("min_cost"),
        )
    )


@q(
    "join_q8_market_share",
    """WITH rev AS (
         SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))
                     * 1000000 AS HUGEINT) AS vol,
                CASE WHEN ns.n_name = 'NATION_3' THEN 1 ELSE 0 END AS is_nat
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              JOIN part ON p_partkey = l_partkey
              JOIN customer ON c_custkey = o_custkey
              JOIN nation nc ON nc.n_nationkey = c_nationkey
              JOIN region ON r_regionkey = nc.n_regionkey
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN nation ns ON ns.n_nationkey = s_nationkey
         WHERE p_type = 'PROMO' AND r_name = 'ASIA'
       )
       SELECT o_year,
              CAST((1000000 * sum(CASE WHEN is_nat = 1 THEN vol ELSE 0 END))
                   // sum(vol) AS BIGINT) AS share_micro
       FROM rev GROUP BY o_year""",
)
def join_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (market share): NATION_3's share of PROMO-part
    revenue shipped to ASIA customers, per order year — an 8-way join
    with the nation dim joined TWICE (supplier side + customer side,
    distinct aliases). The share is division-free at micro precision:
    revenue is scaled to an exact integer (decimal ×1e6 is integral),
    and share_micro = 1e6·nat div total — engine-identical floor
    division, no float ratio ever materializes."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    c = _t(spark, sf_dir, "customer")
    nc = _t(spark, sf_dir, "nation").alias("nc")
    ns = _t(spark, sf_dir, "nation").alias("ns")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    s = _t(spark, sf_dir, "supplier")
    vol = (
        _rev_col() * F.lit(1000000)
    ).cast("decimal(38,0)")
    j = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(nc, F.col("nc.n_nationkey") == F.col("c_nationkey"))
        .join(r, F.col("r_regionkey") == F.col("nc.n_regionkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(ns, F.col("ns.n_nationkey") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("vol"),
            F.when(F.col("ns.n_name") == "NATION_3", 1).otherwise(0).alias(
                "is_nat"
            ),
        )
    )
    agg = j.groupBy("o_year").agg(
        F.sum(F.when(F.col("is_nat") == 1, F.col("vol")).otherwise(F.lit(0))).alias(
            "nat"
        ),
        F.sum("vol").alias("tot"),
    )
    return agg.select(
        "o_year",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * nat) div tot AS BIGINT)"
        ).alias("share_micro"),
    )


@q(
    "join_q9_product_profit",
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
              CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,4)))
                             - CAST(p_retailprice AS DECIMAL(18,2))
                               * CAST(0.1 AS DECIMAL(2,1))
                               * CAST(l_quantity AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS sum_profit
       FROM lineitem JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            JOIN orders ON o_orderkey = l_orderkey
       WHERE p_name LIKE '%widget%'
       GROUP BY 1, 2""",
)
def join_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): per supplier-nation and
    order-year profit over name-LIKE-filtered parts (261 widget parts at
    sf0.01) — the spec's ps_supplycost is absent, so unit cost is the
    deterministic proxy 0.1·p_retailprice. Profit stays exact DECIMAL
    end-to-end (scales 6 and 5 unify before the sum), so the 2dp
    rounding is engine-identical."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    profit = _rev_col() - (
        F.col("p_retailprice").cast("decimal(18,2)")
        * F.lit(0.1).cast("decimal(2,1)")
        * F.col("l_quantity").cast("decimal(18,2)")
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
    )


@q(
    "join_q10_returned_items",
    f"""SELECT c_custkey, c_name, n_name, {_REV_DEC} AS revenue
        FROM customer JOIN orders ON o_custkey = c_custkey
             JOIN lineitem ON l_orderkey = o_orderkey
             JOIN nation ON n_nationkey = c_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def join_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    returned revenue in one quarter (364 distinct returning customers at
    sf0.01 feed the top-k). Selective date+flag filters push to the
    scans; the top-k is TakeOrderedAndProject with the custkey
    tie-break making rounded-revenue ties deterministic."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_rev_col()), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@q(
    "join_q15_top_supplier",
    """WITH rev AS (
         SELECT l_suppkey,
                sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS r
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1997-04-01'
         GROUP BY 1
       ), mx AS (SELECT max(r) AS m FROM rev)
       SELECT s_suppkey, s_name, CAST(round(r, 2) AS DOUBLE) AS total_revenue
       FROM rev JOIN supplier ON s_suppkey = l_suppkey CROSS JOIN mx
       WHERE r = m""",
)
def join_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier vs a MAX scalar): quarterly revenue
    per supplier, keep the one(s) equal to the global max — the spec's
    revenue view becomes a reused agg, the max a 1-row broadcast
    crossJoin (the Q11/Q22 pattern), and the equality compare runs on
    the UNROUNDED decimal so ties are exact, not rounding artifacts."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev_col()).alias("r"))
    mx = rev.agg(F.max("r").alias("m"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("r") == F.col("m"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("r"), 2).cast("double").alias("total_revenue"),
        )
    )


@q(
    "agg_q17_small_qty_revenue",
    """WITH pq AS (
         SELECT l_partkey AS pk,
                sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
                CAST(count(*) AS BIGINT) AS cnt
         FROM lineitem GROUP BY 1
       )
       SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                   AS DOUBLE) AS small_qty_extprice,
              CAST(count(*) AS BIGINT) AS n_rows
       FROM lineitem JOIN part ON p_partkey = l_partkey
            JOIN pq ON pk = l_partkey
       WHERE p_brand = 'Brand#3'
         AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sq""",
)
def agg_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape (correlated-average filter): Brand#3 lineitems
    whose quantity is below 20% of their part's average quantity. The
    correlated avg is an agg joined back on partkey, and the 0.2·avg
    compare is division-free (qty·5·cnt < sum in DECIMAL) so boundary
    membership is engine-exact. 2554 Brand#3 rows feed the filter at
    sf0.01; the survivors are a strict subset."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    pq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).alias("sq"), F.count(F.lit(1)).alias("cnt")
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(pq, F.col("pk") == F.col("l_partkey"))
        .where(qty * F.lit(5) * F.col("cnt") < F.col("sq"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("small_qty_extprice"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


@q(
    "join_q20_excess_shipments",
    """WITH redparts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
       shipped AS (
         SELECT l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
         FROM lineitem JOIN redparts ON p_partkey = l_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1
         HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 350
       )
       SELECT s_name, n_name, CAST(sq AS DOUBLE) AS red_qty
       FROM shipped JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey""",
)
def join_q20_excess_shipments(spark, sf_dir):
    """TPC-H Q20 shape (nested-IN chain): suppliers who shipped more
    than 350 units of red* parts in 1997 — the spec's partsupp
    half-stock threshold is absent, so the measured 90th-percentile-ish
    threshold (median 288, p90 398) keeps a strict subset of the 100
    suppliers. The part name filter semi-joins into the fact scan; the
    HAVING aggregate feeds a tiny supplier/nation join."""
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"))
        .where(F.col("sq") > 350)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        shipped.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name", F.col("sq").cast("double").alias("red_qty"))
    )


@q(
    "join_q21_waiting_suppliers",
    """WITH f_orders AS (
         SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
       ), ps AS (
         SELECT l_orderkey AS ok, l_suppkey AS sk,
                max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS late
         FROM lineitem JOIN f_orders ON o_orderkey = l_orderkey
         GROUP BY 1, 2
       ), agg AS (
         SELECT ok, CAST(count(*) AS BIGINT) AS ns,
                CAST(sum(late) AS BIGINT) AS nl
         FROM ps GROUP BY ok
       )
       SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
       FROM ps JOIN agg USING (ok) JOIN supplier ON s_suppkey = sk
       WHERE late = 1 AND ns > 1 AND nl = 1
       GROUP BY s_name""",
)
def join_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): on finalized
    ('F') multi-supplier orders, count per supplier the orders where it
    was the ONLY late participant — the spec's double EXISTS/NOT-EXISTS
    over receipt/commit dates becomes, as in the classic optimized
    rewrite, per-(order, supplier) lateness flags plus one per-order
    aggregate (supplier count, late count); l_returnflag='R' is the
    lateness proxy (the Q4 convention). Two partial aggs on the fact
    table, zero self-joins of raw lineitem rows."""
    f_orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        f_orders, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    ps = li.groupBy(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "late"
        )
    )
    agg = ps.groupBy("ok").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("late").cast("long").alias("nl"),
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        ps.join(agg, "ok")
        .where((F.col("late") == 1) & (F.col("ns") > 1) & (F.col("nl") == 1))
        .join(s, F.col("s_suppkey") == F.col("sk"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@q("pandas_udf_rule")  # no oracle: Python predicate, rows-only by design
def pandas_udf_rule(spark, sf_dir):
    """Arrow-vectorized pandas-UDF predicate rule (the input_hint's
    'vectorized pandas/Arrow UDF' path): a Python text check evaluated per
    Arrow batch, reported through the standard violations shape. Also
    exercises executor-side package import (addPyFile auto-ship)."""
    from xmlschemavalidator_spark.compiler import PandasRule

    def balanced_spaces(s):
        # tokens must not be empty (no double spaces / leading space)
        return (~s.str.contains("  ", regex=False) & ~s.str.startswith(" ")).fillna(False)

    rs = RuleSet(rules=[FieldRule("ws_clean", PandasRule(balanced_spaces), column="text")])
    res = validate(_t(spark, sf_dir, "documents"), rs, key="doc_id")
    return res.verdicts.select("doc_id", F.col(ok_col_name("ws_clean")).alias("ws_clean_ok"))


@q(
    "sessionization",
    """WITH g AS (
         SELECT user_id, ts, event_id,
                CASE WHEN date_part('epoch', ts) - lag(date_part('epoch', ts))
                          OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800.0 OR
                          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS new_session
         FROM events
       ), s AS (
         SELECT user_id, ts,
                sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id
         FROM g
       )
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(round(max(date_part('epoch', ts)) - min(date_part('epoch', ts)), 0) AS BIGINT) AS duration_s
       FROM s GROUP BY user_id, session_id""",
)
def sessionization(spark, sf_dir):
    """Sessionization (30-min inactivity gap) via gaps-and-islands window
    functions — the batch formulation of streaming session windows. One
    shuffle on user_id serves both window passes."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("timestamp").cast("double")  # fractional epoch s
    gap = ts_s - F.lag(ts_s).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = e.withColumn("new_session", new_session).withColumn(
        "session_id", F.sum("new_session").over(ws)
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.max(F.col("ts").cast("timestamp").cast("double"))
            - F.min(F.col("ts").cast("timestamp").cast("double")), 0
        ).cast("long").alias("duration_s"),
    )


@q(
    "json_props_extract",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
              (TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
               AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) BETWEEN 0 AND 100) AS k_ok
       FROM events""",
)
def json_props_extract(spark, sf_dir):
    """Semi-structured metadata: parse the events.props JSON column and
    validate the extracted field with a range rule — the everyday webtext
    shape (JSON sidecar per record)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    k_num = k.try_cast("bigint")
    return e.select(
        "event_id",
        k.cast("bigint").alias("k"),
        (k_num.isNotNull() & k_num.between(0, 100)).alias("k_ok"),
    )


@q(
    "with_status_decode",
    """SELECT doc_id, lang AS lang_value,
              coalesce(lang = 'en' OR lang = 'de' OR lang = 'sv' OR lang = 'fr' OR lang = 'zh', FALSE) AS lang_status
       FROM documents""",
)
def with_status_decode(spark, sf_dir):
    """with-status decoration (parser.clj:384-400): inline (value, status)
    pairs — flattened struct fields for the oracle compare."""
    from xmlschemavalidator_spark.engine import with_status

    rs = RuleSet(rules=[FieldRule(
        "lang_enum",
        Restriction(facets=tuple(Enumeration(v) for v in ("en", "de", "sv", "fr", "zh"))),
        column="lang")])
    out = with_status(_t(spark, sf_dir, "documents"), rs, ["lang"])
    return out.select(
        "doc_id",
        F.col("lang_status.value").alias("lang_value"),
        F.col("lang_status.status").alias("lang_status"),
    )


# ---------------------------------------------------------------------------
# round-3 continuation: SemDeDup, canonical keep-policy, deterministic
# training shuffle, DSIR importance resampling
# ---------------------------------------------------------------------------

_SEMDEDUP_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 5)"
)

@q(
    "embedding_semdedup",
    f"""WITH cents AS (
          SELECT vec_id AS c, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id < 4
        ), sc AS (
          SELECT e.vec_id, c,
                 {_SEMDEDUP_COS.format(a="e.embedding::DOUBLE[]", b="cv")} AS cc,
                 e.embedding::DOUBLE[] AS v
          FROM embeddings e CROSS JOIN cents
        ), asg AS (
          SELECT vec_id, cluster, cc, v FROM (
            SELECT vec_id, c AS cluster, cc, v,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, c) AS rn
            FROM sc
          ) WHERE rn = 1
        ), rk AS (
          SELECT vec_id, cluster, cc, v,
                 row_number() OVER (PARTITION BY cluster ORDER BY cc ASC, vec_id) AS rank
          FROM asg
        ), drp AS (
          SELECT DISTINCT b.vec_id
          FROM rk a JOIN rk b ON a.cluster = b.cluster AND a.rank < b.rank
          WHERE {_SEMDEDUP_COS.format(a="a.v", b="b.v")} >= 0.4
        )
        SELECT asg.vec_id, CAST(asg.cluster AS INT) AS cluster,
               asg.cc AS centroid_cos, (drp.vec_id IS NULL) AS keep
        FROM asg LEFT JOIN drp ON asg.vec_id = drp.vec_id""",
)
def embedding_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) with deterministic centroids (the
    first 4 vectors — the oracle can't replay k-means, so the QUERY pins
    centroids; the operator takes any trained set).
    Assignment argmax, within-cluster ranking, and the pair threshold all
    compare 5dp-ROUNDED cosines on both engines, so the verdict —
    including which member of each dup group survives — is hash-exact."""
    from xmlschemavalidator_spark.dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    out = semdedup(emb, "embedding", cents, threshold=0.4, max_cluster=100000)
    return out.select(
        F.col("doc").alias("vec_id"), "cluster", "centroid_cos", "keep"
    )


_CANONICAL_ORACLE = f"""
WITH clus AS ({_CLUSTER_ORACLE}),
scored AS (
  SELECT doc_id AS doc, length(trim(coalesce(text, ''))) AS score
  FROM documents
)
SELECT c.doc, c.cluster,
       (row_number() OVER (PARTITION BY c.cluster ORDER BY s.score DESC, c.doc) = 1) AS keep
FROM clus c JOIN scored s ON c.doc = s.doc"""

@q("dedup_canonical_keep", _CANONICAL_ORACLE)
def dedup_canonical_keep(spark, sf_dir):
    """Keep-policy after near-dup clustering: per cluster keep the LONGEST
    document (ties → smallest id) — the published alternative to naive
    first-seen. Reuses the oracle-exact jaccard clusters; the verdict is
    one window over (cluster, score, id)."""
    from xmlschemavalidator_spark.dedup import (
        jaccard_pairs,
        near_duplicate_clusters,
        select_canonical,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, "doc_id", shingle_n=3, threshold=0.12, max_posting=100000
    )
    clusters = near_duplicate_clusters(pairs)
    scored = docs.select(
        F.col("doc_id").alias("doc"),
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))).alias("score"),
    )
    return select_canonical(clusters, scored)


def _shuffle_oracle() -> str:
    from xmlschemavalidator_spark.sampling import sample_key_sql

    key = sample_key_sql("doc_id", "r3shuffle")
    shard = f"CAST(CAST('0x' || substr({key}, 1, 8) AS BIGINT) % 8 AS INT)"
    return f"""
SELECT doc_id, {shard} AS shard,
       CAST(row_number() OVER (PARTITION BY {shard} ORDER BY {key}, doc_id) AS INT) AS pos
FROM documents"""

@q("corpus_shuffle_shards", _shuffle_oracle())
def corpus_shuffle_shards(spark, sf_dir):
    """Deterministic training-order shuffle: shard + in-shard position as
    a pure function of (salt, doc_id) — stable across runs, retries,
    engines, and cluster sizes (a rand() shuffle is none of those)."""
    from xmlschemavalidator_spark.sampling import deterministic_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, "doc_id", n_shards=8, salt="r3shuffle")


def _dsir_oracle() -> str:
    """Full replay of DSIR training + scoring + Gumbel-top-k selection:
    same hashed unigram+bigram features, same floor-quantized micro
    weights (integer per-doc sums → exact), same md5-derived uniforms.
    Only ln() runs per-engine — inputs to it are bit-identical doubles."""
    from xmlschemavalidator_spark.sampling import sample_key_sql
    from xmlschemavalidator_spark.textops import PORTABLE_HASH64_SQL

    bh = PORTABLE_HASH64_SQL.format(x="tok")
    gkey = sample_key_sql("doc", "dsir-r3")
    u_space = float(16 ** 15)
    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform(
           list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                       x -> x <> ''),
           x -> lower(x)) AS arr
  FROM documents
), feats AS (
  SELECT doc_id, unnest(list_concat(arr,
           CASE WHEN len(arr) >= 2
                THEN list_transform(range(1, len(arr)), i -> arr[i] || ' ' || arr[i+1])
                ELSE [] END)) AS tok
  FROM t
), tokb AS (
  SELECT doc_id, CAST({bh} % 1024 AS INT) AS bucket FROM feats
), ctb AS (
  SELECT bucket, count(*) AS c_t
  FROM tokb JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1
), crb AS (
  SELECT bucket, count(*) AS c_r FROM tokb GROUP BY 1
), tot AS (
  SELECT CAST((SELECT coalesce(sum(c_t), 0) FROM ctb) AS DOUBLE) AS tt,
         CAST((SELECT coalesce(sum(c_r), 0) FROM crb) AS DOUBLE) AS tr
), b AS (
  SELECT CAST(unnest(range(0, 1024)) AS INT) AS bucket
), w AS (
  SELECT b.bucket,
         CAST(floor((ln((coalesce(ctb.c_t, 0) + 1.0) / (tot.tt + 1024.0))
                   - ln((coalesce(crb.c_r, 0) + 1.0) / (tot.tr + 1024.0)))
                   * 1000000) AS BIGINT) AS w_micro
  FROM b LEFT JOIN ctb USING (bucket) LEFT JOIN crb USING (bucket) CROSS JOIN tot
), lam AS (
  SELECT doc_id, CAST(sum(w_micro) AS BIGINT) AS s
  FROM tokb JOIN w USING (bucket) GROUP BY 1
), sc AS (
  SELECT d.doc_id AS doc, CAST(coalesce(lam.s, 0) AS BIGINT) AS lambda_micro
  FROM documents d LEFT JOIN lam ON d.doc_id = lam.doc_id
)
SELECT doc, lambda_micro,
       round(lambda_micro / 1000000.0
             - ln(-ln((CAST('0x' || substr({gkey}, 1, 15) AS BIGINT) + 0.5)
                      / {u_space!r})), 6) AS gumbel_score
FROM sc
ORDER BY gumbel_score DESC, doc
LIMIT 150"""

@q("dsir_selection", _dsir_oracle())
def dsir_selection(spark, sf_dir):
    """DSIR (Xie et al. 2023): select the 150 raw docs that best match the
    en-language target slice, by hashed unigram+bigram importance weights
    + deterministic Gumbel-top-k. The oracle replays training, scoring,
    AND the sampling draw — the selected SET itself is hash-checked."""
    from xmlschemavalidator_spark.quality_model import (
        dsir_sample,
        train_dsir_model,
    )

    docs = _t(spark, sf_dir, "documents")
    model = train_dsir_model(
        docs.where(F.col("lang") == "en"), docs, "doc_id", n_buckets=1024
    )
    return dsir_sample(docs, model, "doc_id", k=150, salt="dsir-r3")


@q("dsir_selection_frac", _dsir_oracle())
def dsir_selection_frac(spark, sf_dir):
    """The SAME DSIR selection via the corpus-fraction-k scale path (r3
    VERDICT item 1): quantile-bracketed exact k-th-element hunt + one
    narrow filter instead of a global TakeOrderedAndProject — no task
    ever holds k rows. boundary_cap=256 forces a real bracket iteration
    even at the gate's 500-doc scale; the oracle is the identical
    ORDER BY … LIMIT replay, proving set-equality of the two strategies."""
    from xmlschemavalidator_spark.quality_model import (
        dsir_sample,
        train_dsir_model,
    )

    docs = _t(spark, sf_dir, "documents")
    model = train_dsir_model(
        docs.where(F.col("lang") == "en"), docs, "doc_id", n_buckets=1024
    )
    return dsir_sample(
        docs, model, "doc_id", k=150, salt="dsir-r3",
        method="threshold", boundary_cap=256,
    )


# planted per-lang character markers (planted-oracle rule: the synthetic
# text is lang-INDEPENDENT, so without planting, a lang classifier query
# would verify nothing). Prepended — truncation to max_chars keeps them.
_LANG_MARKERS = {
    # keys MUST be the langs datagen/testdata actually emit (en/de/sv/fr/
    # zh) — review finding: an 'es' entry never fired and left the ~10%
    # sv slice with no planted signal, so the query verified nothing there
    "en": "the of and in that it was ",
    "de": "straße müller zügig schön könig und ",
    "fr": "château français déjà très être où ",
    "sv": "björn över något sjö kärlek är på ",
    "zh": "中文 漢字 的 是 在 了 ",
}
_LANG_NB_BUCKETS = 512
_LANG_NB_MAXCHARS = 400


def _lang_model_oracle() -> str:
    """Full replay of char-trigram NB training + scoring + argmax: same
    normalized gram stream (char_ngrams_sql), same portable hash, same
    floor-quantized micro log-likelihood weights + priors, same
    (score DESC, lang ASC) deterministic argmax."""
    from xmlschemavalidator_spark.lang_model import char_ngrams_sql
    from xmlschemavalidator_spark.textops import PORTABLE_HASH64_SQL

    marker = "CASE lang " + " ".join(
        f"WHEN '{lg}' THEN '{m}'" for lg, m in sorted(_LANG_MARKERS.items())
    ) + " ELSE '' END"
    grams = char_ngrams_sql("t", 3, _LANG_NB_MAXCHARS)
    ph = PORTABLE_HASH64_SQL.format(x="g")
    b = _LANG_NB_BUCKETS
    return f"""
WITH aug AS (
  SELECT doc_id, lang, {marker} || coalesce(text, '') AS t FROM documents
), gr AS (
  SELECT doc_id, lang, unnest({grams}) AS g FROM aug
), gb AS (
  SELECT doc_id, lang, CAST({ph} % {b} AS INT) AS bucket FROM gr
), cnt AS (
  SELECT lang, bucket, count(*) AS c FROM gb GROUP BY 1, 2
), tot AS (
  SELECT lang, CAST(sum(c) AS DOUBLE) AS t FROM cnt GROUP BY 1
), dl AS (
  SELECT lang, count(*) AS d FROM documents GROUP BY 1
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS nd,
         CAST(count(DISTINCT lang) AS DOUBLE) AS nc FROM documents
), grid AS (
  SELECT tot.lang, CAST(bb.b AS INT) AS bucket
  FROM tot CROSS JOIN (SELECT unnest(range(0, {b})) AS b) bb
), w AS (
  SELECT grid.lang, grid.bucket,
         CAST(floor(ln((coalesce(cnt.c, 0) + 1.0) / (tot.t + {float(b)!r}))
                    * 1000000) AS BIGINT) AS w
  FROM grid
  LEFT JOIN cnt ON grid.lang = cnt.lang AND grid.bucket = cnt.bucket
  JOIN tot ON grid.lang = tot.lang
), pr AS (
  SELECT dl.lang,
         CAST(floor(ln((dl.d + 1.0) / (nn.nd + nn.nc)) * 1000000) AS BIGINT) AS p
  FROM dl CROSS JOIN nn
), sums AS (
  SELECT gb.doc_id, w.lang, CAST(sum(w.w) AS BIGINT) AS s
  FROM gb JOIN w ON gb.bucket = w.bucket GROUP BY 1, 2
), scores AS (
  SELECT d.doc_id AS doc, pr.lang, pr.p + coalesce(sums.s, 0) AS score
  FROM documents d CROSS JOIN pr
  LEFT JOIN sums ON sums.doc_id = d.doc_id AND sums.lang = pr.lang
), r AS (
  SELECT doc, lang, score,
         row_number() OVER (PARTITION BY doc ORDER BY score DESC, lang ASC) AS rn
  FROM scores
)
SELECT doc, lang AS lang_pred, CAST(score AS BIGINT) AS score_micro
FROM r WHERE rn = 1"""


@q("lang_model_predict", _lang_model_oracle())
def lang_model_predict(spark, sf_dir):
    """Trained language ID (VERDICT r3 item 3): hashed char-trigram
    multinomial NB — the in-engine fastText-equivalent every published
    pipeline (CCNet/FineWeb) runs instead of a stopword heuristic. The
    oracle replays training (per-class gram counts → floor-quantized
    micro log-likelihoods + priors), scoring (integer sums), and the
    deterministic argmax; the planted per-lang markers give the synthetic
    corpus a real signal to learn (planted-oracle rule)."""
    from xmlschemavalidator_spark.lang_model import predict_lang, train_lang_model

    docs = _t(spark, sf_dir, "documents")
    marker = None
    for lg, m in sorted(_LANG_MARKERS.items()):
        marker = (
            F.when(F.col("lang") == lg, F.lit(m))
            if marker is None
            else marker.when(F.col("lang") == lg, F.lit(m))
        )
    marker = marker.otherwise(F.lit(""))
    aug = docs.select(
        "doc_id", "lang",
        F.concat(marker, F.coalesce(F.col("text"), F.lit(""))).alias("text"),
    )
    model = train_lang_model(
        aug, "doc_id", "lang",
        n_buckets=_LANG_NB_BUCKETS, max_chars=_LANG_NB_MAXCHARS,
    )
    return predict_lang(aug, model, "doc_id")


def _html_extract_oracle() -> str:
    from xmlschemavalidator_spark.textops import html_to_text_sql

    esc = (
        "replace(replace(replace(coalesce(text, ''),"
        " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    )
    html = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||"
        " '</title><script type=\"text/javascript\">var n = ' ||"
        " CAST(n_chars AS VARCHAR) ||"
        " ';</script><style>p { color: red }</style></head>' ||"
        " '<body><!-- doc ' || CAST(doc_id AS VARCHAR) || ' -->' ||"
        " '<h1>Doc &#39;' || CAST(doc_id AS VARCHAR) || '&#39;</h1><p>' ||"
        f" {esc} ||"
        " '</p><ul><li>lang: ' || coalesce(lang, '?') ||"
        " '</li><li>source: ' || coalesce(source, '?') ||"
        " '</li></ul></body></html>'"
    )
    return f"""
SELECT doc_id, {html_to_text_sql(f"({html})")} AS extracted
FROM documents"""

@q("html_extract_text", _html_extract_oracle())
def html_extract_text(spark, sf_dir):
    """HTML → text extraction (the WARC-to-corpus step C4/CCNet run):
    render each document into a full page — title, script + style blocks,
    a comment, entity-escaped body, a metadata list — then recover the
    readable text with the shared rule-table extractor. Both engines
    render AND extract with the same rules (textops._HTML_RULES /
    html_to_text_sql), so the extracted string is byte-hash-checked. One
    codegen'd projection; no shuffle."""
    from xmlschemavalidator_spark.textops import html_to_text

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    esc = F.replace(
        F.replace(
            F.replace(
                F.coalesce(F.col("text"), F.lit("")), F.lit("&"), F.lit("&amp;")
            ),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit('</title><script type="text/javascript">var n = '),
        F.col("n_chars").cast("string"),
        F.lit(";</script><style>p { color: red }</style></head>"),
        F.lit("<body><!-- doc "), did, F.lit(" -->"),
        F.lit("<h1>Doc &#39;"), did, F.lit("&#39;</h1><p>"),
        esc,
        F.lit("</p><ul><li>lang: "), F.coalesce(F.col("lang"), F.lit("?")),
        F.lit("</li><li>source: "), F.coalesce(F.col("source"), F.lit("?")),
        F.lit("</li></ul></body></html>"),
    )
    return docs.select("doc_id", html_to_text(html).alias("extracted"))


_MC_NAV = (
    '<div id="nav"><a href="/">Home</a> | <a href="/about">About</a> | '
    '<a href="/contact">Contact</a> | <a href="/blog">Blog</a></div>'
)
_MC_SIDE = (
    '<div class="side"><a href="/r1">related article number one</a>'
    '<a href="/r2">related article number two</a></div>'
)
_MC_FOOT = "<div>(c) 2026 corp</div>"


def _main_content_oracle() -> str:
    from xmlschemavalidator_spark.textops import main_content_sql

    esc = (
        "replace(replace(replace(coalesce(text, ''),"
        " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    )
    html = (
        f"'<html><body>{_MC_NAV}<p>' || {esc} || '</p>"
        f"{_MC_SIDE}{_MC_FOOT}</body></html>'"
    )
    return f"""
SELECT doc_id, {main_content_sql(f"({html})")} AS main_text
FROM documents"""


@q("main_content_extract", _main_content_oracle())
def main_content_extract(spark, sf_dir):
    """Main-content extraction (r3 VERDICT item 4 — the jusText/
    trafilatura-style boilerplate step between HTML extraction and
    filtering): each doc is rendered into a page wrapped in a link-dense
    nav bar, a sidebar link farm and a short footer (planted-oracle
    rule: the raw corpus has no boilerplate); the per-block link-density
    + length classifier must remove ALL of it and pass the body
    paragraph through byte-exactly. Both engines render and classify
    from the same rule tables/thresholds — byte-hash-checked."""
    from xmlschemavalidator_spark.textops import main_content

    docs = _t(spark, sf_dir, "documents")
    esc = F.replace(
        F.replace(
            F.replace(
                F.coalesce(F.col("text"), F.lit("")), F.lit("&"), F.lit("&amp;")
            ),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    html = F.concat(
        F.lit(f"<html><body>{_MC_NAV}<p>"),
        esc,
        F.lit(f"</p>{_MC_SIDE}{_MC_FOOT}</body></html>"),
    )
    return docs.select("doc_id", main_content(html).alias("main_text"))


_BOILER_PA = "Subscribe to our newsletter for weekly updates and exclusive offers."
_BOILER_PB = "Copyright notice: all rights reserved by the original publisher."

_PARA_PLANT_SQL = (
    "SELECT doc_id, coalesce(text, '')"
    " || CASE WHEN doc_id % 3 = 0 THEN chr(10)||chr(10)||'" + _BOILER_PA + "' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN chr(10)||chr(10)||'" + _BOILER_PB + "' ELSE '' END"
    " AS text FROM documents"
)

_PARA_PX_SQL = r"""px AS (
  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS para
  FROM (SELECT doc_id, regexp_split_to_array(coalesce(text,''), '\n{2,}') AS arr
        FROM src)
), pn AS (
  SELECT doc_id, pos, para,
         trim(regexp_replace(para, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS pnorm
  FROM px
)"""


def _planted_paragraphs_df(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tx = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("\n\n" + _BOILER_PA)
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit("\n\n" + _BOILER_PB)
        ).otherwise(F.lit("")),
    )
    return docs.select("doc_id", tx.alias("text"))


@q(
    "corpus_duplicate_paragraphs",
    f"""WITH src AS ({_PARA_PLANT_SQL}), {_PARA_PX_SQL}
SELECT md5(pnorm) AS para_md5,
       min(pnorm) AS paragraph,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM pn
WHERE length(pnorm) >= 30
GROUP BY md5(pnorm)
HAVING count(DISTINCT doc_id) >= 2""",
)
def corpus_duplicate_paragraphs(spark, sf_dir):
    """Dolma/RefinedWeb-granularity cross-corpus paragraph dedup: blank-
    line-separated blocks, whitespace-normalized keys (re-wrapped copies
    match), >= 30 normalized chars in >= 2 distinct docs. Boilerplate
    paragraphs planted deterministically (docs %3 / %5) — the corpus's own
    docs carry no blank-line structure, so unplanted output would be the
    forbidden 0-row oracle match."""
    from xmlschemavalidator_spark.dedup import duplicate_paragraphs

    return duplicate_paragraphs(_planted_paragraphs_df(spark, sf_dir), "doc_id")


@q(
    "corpus_paragraph_dedup_text",
    f"""WITH src AS ({_PARA_PLANT_SQL}), {_PARA_PX_SQL},
dups AS (
  SELECT md5(pnorm) AS m FROM pn WHERE length(pnorm) >= 30
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
), kept AS (
  SELECT doc_id, pos, para FROM pn
  WHERE length(pnorm) < 30 OR md5(pnorm) NOT IN (SELECT m FROM dups)
)
SELECT s.doc_id,
       coalesce(k.t, '') AS text
FROM src s LEFT JOIN (
  SELECT doc_id, string_agg(para, chr(10)||chr(10) ORDER BY pos) AS t
  FROM kept GROUP BY 1
) k USING (doc_id)""",
)
def corpus_paragraph_dedup_text(spark, sf_dir):
    """drop_duplicate_paragraphs over the planted corpus — the REBUILT
    text is byte-hash-checked (position-ordered blocks re-joined with a
    blank line), same invariant class as corpus_duplicate_spans."""
    from xmlschemavalidator_spark.dedup import drop_duplicate_paragraphs

    return drop_duplicate_paragraphs(
        _planted_paragraphs_df(spark, sf_dir), "doc_id"
    ).select("doc_id", "text")


@q("bpe_merges")
def bpe_merges(spark, sf_dir):
    """BPE merge table learned from the corpus (Sennrich et al. 2016).
    Rows-only BY DESIGN: each merge depends on the segmentation state the
    previous one produced — not SQL-expressible; parity is pinned by the
    paper's worked example and determinism tests (test_bpe.py). One
    distributed word-count pass; learning runs on the bounded table."""
    from xmlschemavalidator_spark.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents")
    model = train_bpe(docs, n_merges=100, max_words=50_000)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(model.merges)],
        "rank int, left string, right string",
    )


@q("bpe_tokenize")
def bpe_tokenize(spark, sf_dir):
    """Subword-tokenize the corpus with the in-engine-trained BPE model:
    ``(doc, n_pieces, pieces_md5)``. Rows-only (same reason as
    bpe_merges); the reconstruction invariant — pieces concat back to the
    normalized text — is pinned in test_bpe.py."""
    from xmlschemavalidator_spark.bpe import bpe_encode, train_bpe

    docs = _t(spark, sf_dir, "documents")
    model = train_bpe(docs, n_merges=100, max_words=50_000)
    enc = bpe_encode(docs, model, "doc_id")
    return enc.select(
        "doc", "n_pieces", F.md5(F.concat_ws("\x00", "pieces")).alias("pieces_md5")
    )


_REP_SRC_SQL = (
    "SELECT doc_id, coalesce(text, '')"
    " || CASE WHEN doc_id % 4 = 0 THEN chr(10) || split_part(coalesce(text, ''), chr(10), 1) ELSE '' END"
    " || CASE WHEN doc_id % 6 = 0 THEN chr(10)||chr(10) || coalesce(text, '') ELSE '' END"
    " AS text FROM documents"
)

def _rep_unit_sql(split_pat: str, prefix: str) -> str:
    return f"""{prefix}_u AS (
  SELECT doc_id,
         trim(regexp_replace(unnest(regexp_split_to_array(coalesce(text,''), '{split_pat}')),
              '[ \t\n\x0b\f\r]+', ' ', 'g')) AS un
  FROM src
), {prefix}_c AS (
  SELECT doc_id, un, count(*) AS c FROM {prefix}_u WHERE length(un) > 0 GROUP BY 1, 2
), {prefix}_f AS (
  SELECT doc_id,
         round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
               / CAST(sum(c) AS DOUBLE), 6) AS {prefix}_frac,
         round(CAST(sum(CASE WHEN c > 1 THEN c * length(un) ELSE 0 END) AS DOUBLE)
               / CAST(sum(c * length(un)) AS DOUBLE), 6) AS {prefix}_char_frac
  FROM {prefix}_c GROUP BY 1
)"""

_REP_LINE_CTE = _rep_unit_sql(r"\n", "dup_line")
_REP_PARA_CTE = _rep_unit_sql(r"\n{2,}", "dup_para")

@q(
    "text_repetition_signals",
    f"""WITH src AS ({_REP_SRC_SQL}),
{_REP_LINE_CTE},
{_REP_PARA_CTE}
SELECT d.doc_id AS doc,
       dup_line_frac, dup_line_char_frac, dup_para_frac, dup_para_char_frac
FROM documents d
LEFT JOIN dup_line_f ON d.doc_id = dup_line_f.doc_id
LEFT JOIN dup_para_f ON d.doc_id = dup_para_f.doc_id""",
)
def text_repetition_signals(spark, sf_dir):
    """Gopher Table-A1 repetition fractions (duplicate line/paragraph and
    their character fractions) over a corpus with repetition planted
    deterministically (docs %4 repeat their first line, docs %6 repeat
    their whole body as a second paragraph) — the raw synthetic docs have
    no internal repetition, and a 0-signal oracle match proves nothing."""
    from xmlschemavalidator_spark.textops import gopher_repetition_signals

    docs = _t(spark, sf_dir, "documents")
    base = F.coalesce(F.col("text"), F.lit(""))
    tx = F.concat(
        base,
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("\n"), F.substring_index(base, "\n", 1)),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0, F.concat(F.lit("\n\n"), base)
        ).otherwise(F.lit("")),
    )
    src = docs.select("doc_id", tx.alias("text"))
    return gopher_repetition_signals(src, "doc_id")


@q(
    "text_tfidf_top_terms",
    """WITH t AS (
  SELECT doc_id,
         unnest(list_filter(
           regexp_split_to_array(trim(coalesce(text, '')), '[ \t\n\x0b\f\r]+'),
           x -> x <> '')) AS term0
  FROM documents
), toks AS (
  SELECT doc_id, lower(term0) AS term FROM t
), tf AS (
  SELECT doc_id AS doc, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term,
         CAST(floor((ln((CAST((SELECT count(*) FROM documents) AS DOUBLE) + 1.0)
                        / (CAST(count(*) AS DOUBLE) + 1.0)) + 1.0) * 1000000.0)
              AS BIGINT) AS idf_micro
  FROM tf GROUP BY term
), sc AS (
  SELECT doc, tf.term, tf, CAST(tf * idf_micro AS BIGINT) AS score_micro
  FROM tf JOIN dfreq ON tf.term = dfreq.term
)
SELECT doc, term, tf, score_micro FROM (
  SELECT *, row_number() OVER (PARTITION BY doc ORDER BY score_micro DESC, term) AS r
  FROM sc
) WHERE r <= 5""",
)
def text_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-5 TF-IDF terms. The ranking key tf·idf_micro is an
    exact integer (IDF floor-quantized), so the selected SET and its
    order-defining scores hash-match across engines — raw-double ranking
    could flip ties on a last-ulp ln() difference."""
    from xmlschemavalidator_spark.textops import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", k=5)


def _mojibake_oracle() -> str:
    import re as _re

    from xmlschemavalidator_spark.rules.facets import sql_lit
    from xmlschemavalidator_spark.textops import (
        _MOJIBAKE_TABLE,
        mojibake_sql,
    )

    sample = " ".join(bad for bad, _ in _MOJIBAKE_TABLE[:6])
    plant = (
        "coalesce(text, '')"
        f" || CASE WHEN doc_id % 6 = 0 THEN chr(10) || {sql_lit('broken: ' + sample)}"
        " ELSE '' END"
    )
    alts = "|".join(_re.escape(bad) for bad, _ in _MOJIBAKE_TABLE)
    count = f"len(regexp_split_to_array({plant}, {sql_lit('(?:' + alts + ')')})) - 1"
    return f"""SELECT doc_id,
       {mojibake_sql(f'({plant})')} AS text,
       CAST({count} AS INT) AS n_mojibake
FROM documents"""

@q("text_fix_mojibake", _mojibake_oracle())
def text_fix_mojibake(spark, sf_dir):
    """Encoding repair (ftfy's core UTF-8-as-cp1252 case): detect and fix
    mojibake over a corpus with artifacts planted deterministically (the
    synthetic docs are clean ASCII). Both engines' plant strings AND
    repair chains derive from the one _MOJIBAKE_TABLE, so the repaired
    text is byte-hash-checked."""
    from xmlschemavalidator_spark.textops import (
        _MOJIBAKE_TABLE,
        fix_mojibake,
        mojibake_count,
    )

    docs = _t(spark, sf_dir, "documents")
    sample = " ".join(bad for bad, _ in _MOJIBAKE_TABLE[:6])
    tx = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0, F.lit("\nbroken: " + sample)
        ).otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id",
        fix_mojibake(tx).alias("text"),
        mojibake_count(tx).cast("int").alias("n_mojibake"),
    )


def _script_oracle() -> str:
    from xmlschemavalidator_spark.textops import _SCRIPT_RANGES, _SCRIPT_WS

    plant = (
        "coalesce(text, '')"
        " || CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'Привет мир 2024' ELSE '' END"
        " || CASE WHEN doc_id % 10 = 0 THEN chr(10) || '你好　世界 123' ELSE '' END"
    )
    base = f"regexp_replace(substr({plant}, 1, 2000), '{_SCRIPT_WS}+', '', 'g')"
    cols = ",\n       ".join(
        f"CASE WHEN length(b) > 0 THEN round(CAST(length(b) - length(regexp_replace(b, '{cls}', '', 'g')) AS DOUBLE) / CAST(length(b) AS DOUBLE), 6) END AS frac_{name}"
        for name, cls in _SCRIPT_RANGES.items()
    )
    return f"SELECT doc_id, {cols} FROM (SELECT doc_id, {base} AS b FROM documents)"

@q("text_script_signals", _script_oracle())
def text_script_signals(spark, sf_dir):
    """Unicode-script composition fractions over a corpus with Cyrillic /
    CJK lines planted deterministically (the synthetic docs are pure
    ASCII — unplanted fractions would all be latin/digit, proving the
    ranges match without exercising them). One \\x{hhhh} range table
    serves both engines."""
    from xmlschemavalidator_spark.textops import script_signals

    docs = _t(spark, sf_dir, "documents")
    tx = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 9 == 0, F.lit("\nПривет мир 2024")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 10 == 0, F.lit("\n你好　世界 123")
        ).otherwise(F.lit("")),  # ideographic space exercises _SCRIPT_WS
    )
    sig = script_signals(tx)
    return docs.select("doc_id", *[v.alias(k) for k, v in sig.items()])


@q("text_quality_buckets_approx")
def text_quality_buckets_approx(spark, sf_dir):
    """Approximate-quantile quality tiles — the at-scale path (narrow
    when-chain over percentile_approx cuts, no global window). Rows-only:
    percentile_approx has no portable DuckDB twin; orientation and tile
    balance are pinned by test_quality_buckets_approx_*."""
    from xmlschemavalidator_spark.quality_model import (
        quality_buckets_approx,
        score_quality,
        train_quality_model,
    )
    from xmlschemavalidator_spark.textops import gopher_pass

    docs = _t(spark, sf_dir, "documents").withColumn(
        "_y", gopher_pass(F.col("text"))
    )
    model = train_quality_model(docs, "doc_id", "_y")
    return quality_buckets_approx(score_quality(docs, model, "doc_id"))


@q(
    "corpus_report_per_lang",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) END)
            AS BIGINT) AS total_tokens
FROM documents GROUP BY lang""",
)
def corpus_report_per_lang(spark, sf_dir):
    """The report job's per-language size panel (the subset of
    report.corpus_report's per_lang panel whose members have exact SQL
    recipes — quality/gopher/script means are pinned by their own
    oracles). One projection + one groupBy."""
    from xmlschemavalidator_spark.report import per_doc_signals

    docs = _t(spark, sf_dir, "documents")
    return per_doc_signals(docs, "doc_id").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def _license_oracle() -> str:
    from xmlschemavalidator_spark.textops import _LICENSE_PATTERNS

    plant = (
        "coalesce(text, '')"
        " || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Licensed under Creative Commons CC-BY-SA 4.0.' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'Copyright (c) 2024 Example Corp. All rights reserved.' ELSE '' END"
        " || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Meta: noai, noimageai.' ELSE '' END"
    )
    cols = ",\n       ".join(
        f"regexp_matches({plant}, '{pat.replace(chr(39), chr(39)*2)}') AS has_{name}"
        for name, pat in _LICENSE_PATTERNS.items()
    )
    return f"SELECT doc_id, {cols} FROM documents"

@q("text_license_signals", _license_oracle())
def text_license_signals(spark, sf_dir):
    """Dolma-style license/opt-out tagging over a corpus with license
    lines planted deterministically (docs %7 CC, %11 copyright, %13
    noai) — the raw synthetic docs mention no licenses, so unplanted
    output would be the forbidden all-false oracle match. Same regexes
    run on both engines (RE2-safe: no backreferences/lookarounds)."""
    from xmlschemavalidator_spark.textops import license_signals

    docs = _t(spark, sf_dir, "documents")
    tx = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\nLicensed under Creative Commons CC-BY-SA 4.0."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("\nCopyright (c) 2024 Example Corp. All rights reserved."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit("\nMeta: noai, noimageai.")
        ).otherwise(F.lit("")),
    )
    sig = license_signals(tx)
    return docs.select("doc_id", *[v.alias(k) for k, v in sig.items()])


# case/accent/punct/whitespace variants of one underlying document —
# the aggressive normalizer must collapse all three spellings per class
_PLANT_VARIANT = """concat(
  CASE doc_id % 3 WHEN 0 THEN 'Café, the BEST — menu no '
       WHEN 1 THEN 'cafe the best menu no '
       ELSE 'CAFE   the best menu NO ' END,
  CAST(doc_id % 20 AS STRING))"""


def _dedup_normalize_oracle() -> str:
    from xmlschemavalidator_spark.textops import normalize_for_dedup_sql

    norm = normalize_for_dedup_sql(_PLANT_VARIANT)
    return (
        f"SELECT doc_id, {norm} AS norm_text, md5({norm}) AS norm_fp "
        "FROM documents"
    )


@q("text_dedup_normalize", _dedup_normalize_oracle())
def text_dedup_normalize(spark, sf_dir):
    """Aggressive dedup-key normalization (textops.normalize_for_dedup —
    the C4/text-dedup preprocessing: lowercase, fold accents, strip
    punctuation, collapse whitespace): the three planted spellings of
    each document collapse to ONE fingerprint (20 classes at sf0.01),
    so exact dedup keyed on norm_fp catches near-spelling duplicates
    raw fingerprints miss. Narrow projection, zero shuffles."""
    from xmlschemavalidator_spark.textops import normalize_for_dedup

    docs = _t(spark, sf_dir, "documents")
    norm = normalize_for_dedup(F.expr(_PLANT_VARIANT))
    return docs.select(
        "doc_id", norm.alias("norm_text"), F.md5(norm).alias("norm_fp")
    )


_PLANT_TITLE_HTML = """CASE WHEN doc_id % 5 = 0
  THEN '<html><body>no title here</body></html>'
  ELSE concat('<html><head><title id="p', CAST(doc_id % 7 AS STRING),
       '">  Page   no. ', CAST(doc_id % 7 AS STRING),
       CASE WHEN doc_id % 2 = 0 THEN ' — Draft' ELSE '' END,
       '</title></head><body>x</body></html>') END"""


def _title_oracle() -> str:
    from xmlschemavalidator_spark.textops import extract_title_sql

    return (
        f"SELECT doc_id, {extract_title_sql(_PLANT_TITLE_HTML)} AS title "
        "FROM documents"
    )


@q("html_extract_title", _title_oracle())
def html_extract_title(spark, sf_dir):
    """Page-title extraction (textops.extract_title): attribute'd and
    whitespace-padded <title> tags normalize to clean titles; titleless
    pages (every 5th) yield '' — the metadata column next to url/text
    in a pages table. One narrow regexp projection."""
    from xmlschemavalidator_spark.textops import extract_title

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", extract_title(F.expr(_PLANT_TITLE_HTML)).alias("title")
    )


@q("text_compression_ratio")
def text_compression_ratio(spark, sf_dir):
    """Deflate-compressibility quality signal
    (textops.compression_signals): repetitive/templated text compresses
    far below prose — the language-agnostic repetition proxy. Rows-only
    (DuckDB has no deflate); byte-exactness vs zlib is pinned by
    test_textops.py::test_compression_signals_exact_and_ordering. The
    plant appends a spam run to every 9th doc so ratios separate."""
    from xmlschemavalidator_spark.textops import compression_signals

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.expr("repeat(' buy now', 60)")),
        ).otherwise(F.col("text")),
    )
    return compression_signals(docs)


@q("bpe_token_ids")
def bpe_token_ids(spark, sf_dir):
    """Subword-id artifact: corpus encoded to dense vocab ids (the
    sequence-packing input a trainer consumes). Rows-only (same iterative-
    training reason as bpe_merges); piece↔id consistency is pinned by
    test_bpe.py::test_bpe_vocab_and_encode_ids_roundtrip."""
    from xmlschemavalidator_spark.bpe import bpe_encode_ids, train_bpe

    docs = _t(spark, sf_dir, "documents")
    model = train_bpe(docs, n_merges=100, max_words=50_000)
    enc = bpe_encode_ids(docs, model, "doc_id")
    return enc.select(
        "doc",
        "n_pieces",
        F.md5(F.concat_ws(",", F.transform("ids", lambda x: x.cast("string")))).alias(
            "ids_md5"
        ),
    )


# ===========================================================================
# §2.10 URL & web-graph layer (weburl.py) — documents carry no url/html
# column, so each query PLANTS its input from doc_id arithmetic via a
# SHARED SQL literal (F.expr Spark-side, interpolated into the oracle),
# the established planted-signal pattern. The plants avoid backslashes
# and single quotes entirely: Spark SQL unescapes backslashes where
# DuckDB does not, and the engines disagree on quote-doubling.
# ===========================================================================

from xmlschemavalidator_spark.weburl import (  # noqa: E402
    canonical_host,
    canonical_host_sql,
    canonical_url,
    canonical_url_sql,
    extract_links,
    extract_links_sql,
    pagerank_oracle_sql,
    registered_domain,
    registered_domain_sql,
)

# every canonicalization rule exercised: mixed-case scheme/host, userinfo,
# default port (http:80 AND https:443) vs kept :8080, www, duplicate and
# trailing slashes, tracking params, unsorted params, bare '?', fragment
_PLANT_URL = """concat(
  CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'http' END, '://',
  CASE WHEN doc_id % 7 = 0 THEN 'crawler:pw@' ELSE '' END,
  CASE doc_id % 4 WHEN 0 THEN 'WWW.Example.COM' WHEN 1 THEN 'news.Example.co.uk'
       WHEN 2 THEN 'blog.Test.org' ELSE 'cdn.example.com' END,
  CASE WHEN doc_id % 10 = 3 THEN ':8080'
       WHEN doc_id % 2 = 0 THEN CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE ':80' END
       ELSE '' END,
  '//articles//', CAST(doc_id % 40 AS STRING),
  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
  CASE doc_id % 6 WHEN 0 THEN '?utm_source=tw&b=2&a=1'
       WHEN 1 THEN '?z=9&a=1&utm_campaign=x&fbclid=pAx'
       WHEN 2 THEN '?' ELSE '' END,
  CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END)"""


@q(
    "url_canonicalize",
    f"""SELECT doc_id, canonical_url,
               {registered_domain_sql(canonical_host_sql('canonical_url'))} AS domain
        FROM (SELECT doc_id, {canonical_url_sql(_PLANT_URL)} AS canonical_url
              FROM documents)""",
)
def url_canonicalize(spark, sf_dir):
    """Dedup-canonical URL + registrable domain (weburl.py:canonical_url /
    registered_domain — regex-pipeline form, oracle-exact where the
    parse_url-based textops.url_normalize cannot be). One narrow
    projection, zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    canon = docs.withColumn("canonical_url", canonical_url(F.expr(_PLANT_URL)))
    return canon.select(
        "doc_id",
        "canonical_url",
        registered_domain(canonical_host(F.col("canonical_url"))).alias("domain"),
    )


# collision-heavy plant: canonicalization collapses the %2 trailing-slash
# and %4 tracking-param variants, leaving (host%3 × path%10) = 30 classes
_PLANT_URL_DUP = """concat('http://',
  CASE doc_id % 3 WHEN 0 THEN 'A.example.com' WHEN 1 THEN 'b.example.com'
       ELSE 'c.example.net' END,
  '/page/', CAST(doc_id % 10 AS STRING),
  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 4 = 1 THEN '?utm_source=x' ELSE '' END)"""


@q(
    "url_dedup_keep",
    f"""SELECT doc_id, canonical_url FROM (
          SELECT doc_id, canonical_url,
                 row_number() OVER (PARTITION BY canonical_url
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM (SELECT doc_id, n_chars,
                       {canonical_url_sql(_PLANT_URL_DUP)} AS canonical_url
                FROM documents))
        WHERE rn = 1""",
)
def url_dedup_keep(spark, sf_dir):
    """URL-level dedup: one survivor per canonical URL, longest text then
    smallest doc_id (weburl.py:url_dedup — partial-aggregatable
    min(struct), never a window over the possibly-degenerate URL key;
    the oracle's window form is the semantic spec, not the plan)."""
    from xmlschemavalidator_spark.weburl import url_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_PLANT_URL_DUP)
    )
    return url_dedup(docs).select("doc_id", "canonical_url")


@q(
    "url_domain_cap",
    """SELECT doc_id, domain FROM (
         SELECT doc_id, domain,
                row_number() OVER (PARTITION BY domain
                                   ORDER BY n_chars DESC, doc_id) AS rn
         FROM (SELECT doc_id, n_chars,
                      concat('d', CAST(doc_id % 7 AS STRING), '.example.com')
                        AS domain
               FROM documents))
       WHERE rn <= 10""",
)
def url_domain_cap(spark, sf_dir):
    """Anti-dominance cap: top 10 docs per domain by (n_chars desc,
    doc_id) via the two-phase salted row_number (weburl.py:domain_cap) —
    one mega-domain can never pin a single task's sort. Oracle = the
    single-window semantic spec."""
    from xmlschemavalidator_spark.weburl import domain_cap

    docs = _t(spark, sf_dir, "documents").withColumn(
        "domain",
        F.concat(F.lit("d"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com")),
    )
    return domain_cap(docs, "domain", cap=10, order_col="n_chars").select(
        "doc_id", "domain"
    )


_PLANT_URL_BAD = """concat('http://site', CAST(doc_id % 5 AS STRING), '.com/',
  CASE doc_id % 9 WHEN 0 THEN 'Casino/bonus' WHEN 1 THEN 'poker-night'
       WHEN 2 THEN 'recipes' ELSE 'news' END)"""


@q(
    "url_badword_kept",
    f"""SELECT doc_id, url FROM
          (SELECT doc_id, {_PLANT_URL_BAD} AS url FROM documents)
        WHERE NOT regexp_matches(lower(url), '(casino|poker)')""",
)
def url_badword_kept(spark, sf_dir):
    """C4-style URL badword filter (substring over the lowercased URL,
    weburl.py:url_badword_filter): the planted Casino/poker paths drop,
    case-insensitively."""
    from xmlschemavalidator_spark.weburl import url_badword_filter

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_PLANT_URL_BAD)
    )
    return url_badword_filter(docs, "url", ["casino", "poker"]).select(
        "doc_id", "url"
    )


# double-quoted attributes ONLY (the engines disagree on single-quote
# escaping inside shared literals); data-href plants the false-positive
# the attribute-boundary regex must reject
_PLANT_HTML = """concat('<html><p>intro</p><a href="http://site',
  CAST(doc_id % 5 AS STRING), '.com/a">x</a>',
  CASE WHEN doc_id % 2 = 0
       THEN concat('<A HREF="https://Example.com/p/',
                   CAST(doc_id % 7 AS STRING), '">y</A>')
       ELSE '<a data-href="http://no.example">z</a>' END,
  '</html>')"""


@q(
    "link_extract",
    f"""SELECT doc_id,
               CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS link_pos,
               unnest(l) AS link
        FROM (SELECT doc_id, {extract_links_sql(_PLANT_HTML)} AS l
              FROM documents)""",
)
def link_extract(spark, sf_dir):
    """Outlink harvest (weburl.py:extract_links): quoted hrefs in document
    order, attribute-boundary-anchored so data-href never matches. One
    Generate over a narrow projection — the link-graph ingestion scan."""
    docs = _t(spark, sf_dir, "documents")
    links = docs.select(
        "doc_id", extract_links(F.expr(_PLANT_HTML)).alias("l")
    )
    return links.select(
        "doc_id", F.posexplode("l").alias("link_pos", "link")
    ).withColumn("link_pos", F.col("link_pos").cast("long"))


_EDGES_SQL = (
    "SELECT doc_id % 60 AS src, (doc_id * 7 + 3) % 60 AS dst "
    "FROM documents WHERE doc_id % 60 <> (doc_id * 7 + 3) % 60"
)


def _edges(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        (F.col("doc_id") % 60).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 60).alias("dst"),
    ).where(F.col("src") != F.col("dst"))


@q("link_pagerank", pagerank_oracle_sql(_EDGES_SQL, iterations=8))
def link_pagerank(spark, sf_dir):
    """Integer-micro PageRank, 8 fixed iterations (weburl.py:pagerank,
    Pregel SIGMOD'10 §2 formulation): BIGINT micro-unit arithmetic makes
    the iterative ranks bit-exact against the unrolled-CTE DuckDB replay
    — the first oracle-exact *iterative graph* query in the suite. Per
    iteration: one shuffle join + one partial-agg sum, lineage cut."""
    from xmlschemavalidator_spark.weburl import pagerank

    return pagerank(_edges(spark, sf_dir), iterations=8).select(
        "node", "rank_micro"
    )


from xmlschemavalidator_spark.weburl import hits_oracle_sql  # noqa: E402


@q("link_hits", hits_oracle_sql(_EDGES_SQL, iterations=5))
def link_hits(spark, sf_dir):
    """HITS hubs & authorities (weburl.py:hits, Kleinberg JACM'99) over
    the planted link graph: integer-micro renormalized per iteration
    (x·scale div Σx — no sqrt to diverge), so the unrolled-CTE DuckDB
    replay hashes identically — the suite's second oracle-exact
    iterative graph query after PageRank."""
    from xmlschemavalidator_spark.weburl import hits

    return hits(_edges(spark, sf_dir), iterations=5)


@q(
    "link_degree_stats",
    f"""WITH e AS (SELECT DISTINCT src, dst FROM ({_EDGES_SQL})),
        o AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg
              FROM e GROUP BY src),
        i AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_deg
              FROM e GROUP BY dst)
        SELECT coalesce(o.node, i.node) AS node,
               CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
               CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg
        FROM o FULL OUTER JOIN i ON o.node = i.node""",
)
def link_degree_stats(spark, sf_dir):
    """Per-node in/out degree over the planted link graph
    (weburl.py:degree_stats): two partial aggs + one outer join."""
    from xmlschemavalidator_spark.weburl import degree_stats

    return degree_stats(_edges(spark, sf_dir))


@q(
    "domain_quality_gate",
    """SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(score) AS BIGINT) AS sum_score
       FROM (SELECT concat('d', CAST(doc_id % 7 AS STRING)) AS domain,
                    n_chars + (doc_id % 7) * 25 AS score
             FROM documents)
       GROUP BY domain
       HAVING SUM(score) >= 390.0 * COUNT(*)""",
)
def domain_quality_gate_q(spark, sf_dir):
    """Site-level quality gate (weburl.py:domain_quality_gate): domains
    whose mean planted score clears 390 survive whole (the plant ramps
    per-domain means ~327..449, measured at sf0.01, so the gate keeps a strict subset — a
    0-row or all-rows oracle match would prove nothing). The DECIMAL
    sum≥avg·count form avoids division entirely."""
    from xmlschemavalidator_spark.weburl import domain_quality_gate

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("d"), (F.col("doc_id") % 7).cast("string")).alias(
            "domain"
        ),
        (F.col("n_chars") + (F.col("doc_id") % 7) * 25).alias("score"),
    )
    gated = domain_quality_gate(docs, "domain", "score", min_avg=390.0)
    return gated.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score").cast("long").alias("sum_score"),
    )


# --- corpus splits / domain coherence (r4 widening) -----------------------

_SPLIT_W = {"train": 0.8, "val": 0.1, "test": 0.1}


def _split_oracle() -> str:
    from xmlschemavalidator_spark.sampling import assign_split_sql

    return (
        f"SELECT doc_id, {assign_split_sql('doc_id', _SPLIT_W)} AS split "
        "FROM documents"
    )


@q("corpus_assign_split", _split_oracle())
def corpus_assign_split(spark, sf_dir):
    """Deterministic train/val/test assignment
    (sampling.assign_split): disjoint, exhaustive, and stable under
    corpus growth — the same md5(salt:id) key family as
    deterministic_sample, rendered as cumulative thresholds. Narrow
    projection, zero shuffles."""
    from xmlschemavalidator_spark.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    return assign_split(docs, "doc_id", _SPLIT_W).select("doc_id", "split")


@q(
    "domain_lang_coherence",
    """WITH per AS (SELECT concat('d', CAST(doc_id % 11 AS STRING)) AS domain,
                           coalesce(lang, 'und') AS lang,
                           CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM documents GROUP BY domain, coalesce(lang, 'und')),
        dom AS (SELECT domain, CAST(SUM(cnt) AS BIGINT) AS n_docs FROM per
                GROUP BY domain),
        win AS (SELECT domain, lang, cnt,
                       row_number() OVER (PARTITION BY domain
                                          ORDER BY cnt DESC, lang) AS rn
                FROM per)
        SELECT w.domain, d.n_docs, w.lang AS top_lang,
               CAST(w.cnt * 1000000 // d.n_docs AS BIGINT) AS top_share_micro
        FROM win w JOIN dom d ON w.domain = d.domain WHERE w.rn = 1""",
)
def domain_lang_coherence_q(spark, sf_dir):
    """Per-domain language coherence (weburl.py:domain_lang_coherence):
    dominant language + its document share in millionths (BIGINT integer
    division — no float rounding to diverge). Language-incoherent
    domains are an MT-spam signal; the share feeds site-level gating.
    Spark plan: two partial aggs + min(struct) winner, no window; the
    oracle's window is the semantic spec."""
    from xmlschemavalidator_spark.weburl import domain_lang_coherence

    docs = _t(spark, sf_dir, "documents").withColumn(
        "domain",
        F.concat(F.lit("d"), (F.col("doc_id") % 11).cast("string")),
    )
    return domain_lang_coherence(docs, "domain")


# --- snapshot dedup / anchor text / WAT outlinks (r4 widening) ------------

_PLANT_TS = """CASE WHEN doc_id % 17 = 0 THEN CAST(NULL AS BIGINT)
  ELSE CAST(1700000000 + (doc_id % 13) * 86400 AS BIGINT) END"""


@q(
    "url_snapshot_keep",
    f"""SELECT doc_id, canonical_url, warc_ts FROM (
          SELECT doc_id, canonical_url, warc_ts,
                 row_number() OVER (PARTITION BY canonical_url
                                    ORDER BY warc_ts DESC NULLS LAST, doc_id)
                   AS rn
          FROM (SELECT doc_id, {_PLANT_TS} AS warc_ts,
                       {canonical_url_sql(_PLANT_URL_DUP)} AS canonical_url
                FROM documents))
        WHERE rn = 1""",
)
def url_snapshot_keep(spark, sf_dir):
    """Snapshot dedup: one survivor per canonical URL, NEWEST capture
    then smallest doc_id (weburl.py:snapshot_dedup — the Common Crawl
    multi-snapshot shape: same partial-aggregatable min(struct) as
    url_dedup, keyed on capture time instead of text length). The plant
    reuses the collision-heavy URL classes, ramps warc_ts by doc_id%13,
    and nulls every 17th capture so the NULL-loses rule is exercised;
    the oracle's window spells NULLS LAST (Spark DESC implies it, DuckDB
    must be told)."""
    from xmlschemavalidator_spark.weburl import snapshot_dedup

    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn("url", F.expr(_PLANT_URL_DUP))
        .withColumn("warc_ts", F.expr(_PLANT_TS))
    )
    return snapshot_dedup(docs).select("doc_id", "canonical_url", "warc_ts")


# anchors: 4 canonical targets (tracking-param and bare-host variants
# collapse), one dominant anchor, one mid anchor needing ws-collapse,
# singleton 'visit<j>' anchors competing for the last top-3 slot on the
# (count desc, anchor asc) tie-break; relative hrefs must drop
_PLANT_ANCHOR_HTML = """concat('<html><a href="http://T',
  CAST(doc_id % 4 AS STRING), '.example.com/?utm_source=x">',
  CASE WHEN doc_id % 3 = 0 THEN 'Home  Page' ELSE 'click here' END,
  '</a>',
  CASE WHEN doc_id % 5 = 0 THEN concat('<a href="http://t',
       CAST(doc_id % 4 AS STRING), '.example.com">visit',
       CAST(doc_id % 7 AS STRING), '</a>') ELSE '' END,
  '<a href="/rel">skip</a></html>')"""


def _anchor_topk_oracle(cap: int) -> str:
    from xmlschemavalidator_spark.weburl import ANCHOR_RE, _ABS_HTTP_RE
    from xmlschemavalidator_spark.textops import _WS

    pat = "'" + ANCHOR_RE.replace("'", "''") + "'"
    return f"""
      WITH m AS (SELECT unnest(regexp_extract_all({_PLANT_ANCHOR_HTML},
                        {pat}, 0)) AS a FROM documents),
      pairs AS (SELECT {canonical_url_sql(f"regexp_extract(a, {pat}, 1)")}
                         AS target,
                       trim(regexp_replace(regexp_extract(a, {pat}, 2),
                            '{_WS}+', ' ', 'g')) AS anchor
                FROM m
                WHERE regexp_matches(regexp_extract(a, {pat}, 1),
                                     '{_ABS_HTTP_RE}')),
      counts AS (SELECT target, anchor, CAST(COUNT(*) AS BIGINT) AS n_refs
                 FROM pairs WHERE anchor <> '' GROUP BY target, anchor)
      SELECT target, anchor, n_refs, rnk FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY target
                       ORDER BY n_refs DESC, anchor) AS BIGINT) AS rnk
        FROM counts)
      WHERE rnk <= {cap}"""


@q("anchor_text_topk", _anchor_topk_oracle(3))
def anchor_text_topk_q(spark, sf_dir):
    """Per-target anchor-text aggregation (weburl.py:anchor_text_topk):
    top-3 anchor texts per canonical target by reference count — the
    web-graph-derived text signal (anchor text describes the TARGET
    page; ORCAS/TREC anchor corpora are built this way). Spark plan is
    the salted two-phase top-k; the oracle's single window is the
    semantic spec."""
    from xmlschemavalidator_spark.weburl import anchor_text_topk

    docs = _t(spark, sf_dir, "documents").withColumn(
        "html", F.expr(_PLANT_ANCHOR_HTML)
    )
    return anchor_text_topk(docs, "html", cap=3).withColumnRenamed(
        "rank", "rnk"
    )


# WAT JSON plant: every doc one anchor link, even docs add an IMG@/src
# (must be dropped by only_anchors), %3 docs add a second anchor —
# variable-length arrays, double-quoted JSON only (no single quotes or
# backslashes in the shared literal)
_PLANT_WAT = """concat('{"Envelope":{"Payload-Metadata":',
  '{"HTTP-Response-Metadata":{"HTML-Metadata":{"Links":[',
  '{"path":"A@/href","url":"http://s', CAST(doc_id % 5 AS STRING),
  '.com/a"}',
  CASE WHEN doc_id % 2 = 0 THEN concat(',{"path":"IMG@/src","url":"http://img',
       CAST(doc_id % 3 AS STRING), '.com/i.png"}') ELSE '' END,
  CASE WHEN doc_id % 3 = 0 THEN concat(',{"path":"A@/href","url":"http://x',
       CAST(doc_id % 7 AS STRING), '.com/b"}') ELSE '' END,
  ']}}}}}')"""


def _wat_outlinks_oracle() -> str:
    from xmlschemavalidator_spark.weburl import wat_outlinks_sql

    return f"""SELECT doc_id,
               CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS link_pos,
               unnest(l) AS link
        FROM (SELECT doc_id,
                     {wat_outlinks_sql(_PLANT_WAT, only_anchors=True)} AS l
              FROM documents)"""


@q("wat_outlinks", _wat_outlinks_oracle())
def wat_outlinks_q(spark, sf_dir):
    """Outlink harvest from WAT metadata JSON (weburl.py:wat_outlinks +
    sources/warc.py:read_wat — Common Crawl's no-HTML-parse link-graph
    path): anchors only, IMG/script resources filtered inside the JSON
    array, document order preserved. One narrow JSON projection + one
    Generate."""
    from xmlschemavalidator_spark.weburl import wat_outlinks

    docs = _t(spark, sf_dir, "documents")
    links = docs.select(
        "doc_id",
        wat_outlinks(F.expr(_PLANT_WAT), only_anchors=True).alias("l"),
    )
    return links.select(
        "doc_id", F.posexplode("l").alias("link_pos", "link")
    ).withColumn("link_pos", F.col("link_pos").cast("long"))


# outlink-shape plant: doc%7 links (0-link pages exist), targets spread
# over doc-dependent domains with an internal link for %2 docs
_PLANT_OUT_HTML = """concat('<html>',
  CASE WHEN doc_id % 7 >= 1 THEN concat('<a href="http://t',
       CAST(doc_id % 13 AS STRING), '.com/a">x</a>') ELSE '' END,
  CASE WHEN doc_id % 7 >= 2 THEN concat('<a href="http://t',
       CAST(doc_id % 5 AS STRING), '.com/b">y</a>') ELSE '' END,
  CASE WHEN doc_id % 7 >= 3 THEN '<a href="/relative">r</a>' ELSE '' END,
  CASE WHEN doc_id % 7 >= 4 AND doc_id % 2 = 0
       THEN concat('<a href="http://own', CAST(doc_id % 9 AS STRING),
            '.net/self">s</a>') ELSE '' END,
  '</html>')"""

_PLANT_OWN_URL = """concat('http://own', CAST(doc_id % 9 AS STRING),
  '.net/page')"""


def _outlink_oracle() -> str:
    from xmlschemavalidator_spark.weburl import outlink_signals_sql

    return (
        "SELECT doc_id AS doc, "
        + outlink_signals_sql(_PLANT_OUT_HTML, _PLANT_OWN_URL)
        + " FROM documents"
    )


@q("link_outlink_signals", _outlink_oracle())
def link_outlink_signals(spark, sf_dir):
    """Per-page outlink shape (weburl.py:outlink_signals): link counts,
    distinct target domains, internal links, and integer-division
    diversity — the link-farm/SEO-doorway prior. The plant mixes
    relative links, repeated domains, and self-links; 0-link pages hit
    the zero guards. Two chained narrow projections (the per-link
    canonical-domain array is let-bound once — HOF subtrees are not
    CSE'd)."""
    from xmlschemavalidator_spark.weburl import outlink_signals

    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn("html", F.expr(_PLANT_OUT_HTML))
        .withColumn("url", F.expr(_PLANT_OWN_URL))
    )
    return outlink_signals(docs)


@q(
    "link_components",
    f"""WITH RECURSIVE e0 AS ({_EDGES_SQL}),
        edges AS (SELECT src AS s, dst AS d FROM e0
                  UNION SELECT dst, src FROM e0),
        reach(doc, r) AS (
          SELECT s, s FROM edges
          UNION
          SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.doc
        )
        SELECT doc AS node, CAST(min(r) AS BIGINT) AS component
        FROM reach GROUP BY doc""",
)
def link_components(spark, sf_dir):
    """Weakly connected components of the link graph (host-graph
    partitioning for per-component processing / dead-zone detection):
    the SAME min-label propagation engine as near-dup clustering
    (dedup.py:near_duplicate_clusters — one job per round, lineage cut,
    Observation-based fixpoint) pointed at planted link edges, vs the
    recursive-CTE transitive closure in DuckDB."""
    from xmlschemavalidator_spark.dedup import near_duplicate_clusters

    e = _edges(spark, sf_dir).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    return near_duplicate_clusters(e).select(
        F.col("doc").alias("node"), F.col("cluster").alias("component")
    )


# --- UniMax budget allocation (Chung et al., ICLR 2023) -------------------
# Integer waterfilling: the capped-prefix test is monotone in the
# (cap, name) order, so the oracle evaluates it with window prefix sums —
# no recursion. `capped` is defined as alloc == cap on BOTH sides (an
# uncapped group receiving a remainder unit can land exactly on its cap,
# so flagging from the prefix test alone would diverge).

_UNIMAX_B = 200_000
_UNIMAX_E = 2

from xmlschemavalidator_spark.sampling import sample_key_sql  # noqa: E402

_UNIMAX_KEY = sample_key_sql("doc_id", "unimax")

_UNIMAX_ALLOC_CTES = f"""
sz AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n FROM documents GROUP BY lang),
caps AS (SELECT lang, n, n * {_UNIMAX_E} AS cap FROM sz),
ord AS (SELECT lang, n, cap,
        CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
        CAST(COUNT(*) OVER () AS BIGINT) AS L,
        CAST(coalesce(SUM(cap) OVER (ORDER BY cap, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS s_before
        FROM caps),
flag AS (SELECT *, (cap * (L - i + 1) <= {_UNIMAX_B} - s_before) AS fits
         FROM ord),
ct AS (SELECT CAST(coalesce(SUM(CASE WHEN fits THEN cap END), 0) AS BIGINT) AS granted,
              CAST(SUM(CASE WHEN NOT fits THEN 1 ELSE 0 END) AS BIGINT) AS u
       FROM flag),
unc AS (SELECT lang, CAST(row_number() OVER (ORDER BY lang) AS BIGINT) AS j
        FROM flag WHERE NOT fits),
alloc AS (SELECT f.lang, f.n, f.cap,
            CASE WHEN f.fits THEN f.cap
                 ELSE ({_UNIMAX_B} - ct.granted) // ct.u
                      + CASE WHEN unc.j <= ({_UNIMAX_B} - ct.granted) % ct.u
                             THEN 1 ELSE 0 END
            END AS a
          FROM flag f CROSS JOIN ct LEFT JOIN unc ON f.lang = unc.lang)"""


@q(
    "unimax_allocation",
    f"""WITH {_UNIMAX_ALLOC_CTES}
        SELECT lang, n AS corpus_cost, a AS alloc_cost,
               (a = cap) AS capped
        FROM alloc""",
)
def unimax_allocation_q(spark, sf_dir):
    """UniMax per-language budget table (sampling.py:unimax_allocation):
    integer waterfilling over per-lang n_chars sums, budget 200k chars /
    max 2 epochs at sf0.01 — the smallest lang caps at 2 full epochs, the
    rest split
    the remainder equally (deterministic remainder-unit placement). The
    oracle replays the waterfill with window prefix sums."""
    from xmlschemavalidator_spark.sampling import unimax_allocation

    docs = _t(spark, sf_dir, "documents")
    return unimax_allocation(docs, "lang", "n_chars", _UNIMAX_B, _UNIMAX_E)


@q(
    "unimax_epochs",
    f"""WITH {_UNIMAX_ALLOC_CTES},
        docs2 AS (SELECT d.doc_id, d.lang, d.n_chars, al.a, al.n,
                         al.a // al.n AS fe
                  FROM documents d JOIN alloc al USING (lang)
                  WHERE al.n > 0),
        f AS (SELECT doc_id, lang,
                     CAST(unnest(range(1, fe + 1)) AS BIGINT) AS epoch
              FROM docs2),
        p AS (SELECT doc_id, lang, CAST(fe + 1 AS BIGINT) AS epoch FROM (
                SELECT doc_id, lang, fe, a - fe * n AS rem,
                       SUM(n_chars) OVER (PARTITION BY lang
                           ORDER BY {_UNIMAX_KEY}, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_chars AS spent_before
                FROM docs2)
              WHERE spent_before < rem)
        SELECT doc_id, lang, epoch FROM f
        UNION ALL SELECT doc_id, lang, epoch FROM p""",
)
def unimax_epochs(spark, sf_dir):
    """UniMax materialized as training rows (sampling.py:unimax_apply):
    every kept (doc, epoch) pair — full epochs are an explode over the
    per-lang allocation, the final partial epoch fills in deterministic
    md5(salt:id) order until its residual char budget is spent
    (first-to-exceed). Oracle replays allocation + epoch expansion +
    the md5-ordered window exactly."""
    from xmlschemavalidator_spark.sampling import unimax_apply

    docs = _t(spark, sf_dir, "documents")
    out = unimax_apply(docs, "doc_id", "lang", "n_chars", _UNIMAX_B, _UNIMAX_E)
    return out.select("doc_id", "lang", "epoch")


from xmlschemavalidator_spark.weburl import hyperball_oracle_sql  # noqa: E402


@q("link_harmonic_centrality", hyperball_oracle_sql(_EDGES_SQL, iterations=5))
def link_harmonic_centrality(spark, sf_dir):
    """HyperBall approximate harmonic centrality (Boldi & Vigna 2013 —
    the signal Common Crawl ranks hosts by; weburl.py:hyperball_harmonic):
    HLL counters propagated along edges, per-round (node, register) MAX
    partial agg. Integer registers + exact scaled-integer ball sums +
    a fixed-order float chain make the estimate value-hash-exact against
    the unrolled DuckDB replay — an *approximate* sketch with an *exact*
    oracle."""
    from xmlschemavalidator_spark.weburl import hyperball_harmonic

    return hyperball_harmonic(_edges(spark, sf_dir), iterations=5)


# --- robots.txt filtering ---------------------------------------------------
# Plants use chr(10) for newlines: Spark SQL unescapes backslash-n inside
# string literals where DuckDB keeps it raw, so a shared literal may not
# contain backslashes at all.

# %4==0 plants the directory index '/private/' ITSELF — the case the
# canonical-path form got wrong (trailing slash stripped → prefix miss)
_PLANT_ROBOTS_URL = """concat('http://site', CAST(doc_id % 5 AS STRING), '.com/',
  CASE doc_id % 4 WHEN 0 THEN 'private/' WHEN 1 THEN 'tmpfile'
       WHEN 2 THEN 'public/page' ELSE 'g' END)"""

# hosts site0..site3 carry robots (site3: block-all); site4 has no row.
# The Google group's /g rule must NOT apply to the wildcard agent.
_PLANT_ROBOTS_TXT = """concat(
  'User-agent: Google', chr(10), 'Disallow: /g', chr(10),
  'User-agent: *', chr(10),
  CASE host WHEN 'site3.com' THEN 'Disallow: /'
       ELSE concat('Disallow: /private/', chr(10), 'Disallow: /tmp') END)"""

_ROBOTS_HOSTS_SQL = (
    "SELECT DISTINCT concat('site', CAST(doc_id % 5 AS STRING), '.com') AS host "
    "FROM documents WHERE doc_id % 5 < 4"
)

from xmlschemavalidator_spark.weburl import (  # noqa: E402
    robots_disallow_prefixes_sql,
    robots_url_path_sql,
)


@q(
    "robots_filter_kept",
    f"""WITH d AS (SELECT doc_id, {_PLANT_ROBOTS_URL} AS url FROM documents),
        hosts AS ({_ROBOTS_HOSTS_SQL}),
        rules AS (SELECT host,
                    {robots_disallow_prefixes_sql(_PLANT_ROBOTS_TXT)} AS prefixes
                  FROM hosts),
        j AS (SELECT d.doc_id, d.url,
                     {robots_url_path_sql('d.url')} AS pq,
                     rules.prefixes
              FROM d LEFT JOIN rules
                ON {canonical_host_sql(canonical_url_sql('d.url'))} = rules.host)
        SELECT doc_id, url FROM j
        WHERE NOT coalesce(
          len(list_filter(prefixes, p -> starts_with(pq, p))) > 0, FALSE)""",
)
def robots_filter_kept(spark, sf_dir):
    """robots.txt-respecting URL filter (weburl.py:robots_filter — the
    C4/CCNet crawl-politeness stage): the wildcard agent group's
    Disallow prefixes drop matching paths; a block-all host loses every
    doc; hosts with no robots row keep everything; another agent's rules
    never leak into the wildcard group. One host-keyed left join + a
    bounded exists per doc."""
    from xmlschemavalidator_spark.weburl import robots_filter

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PLANT_ROBOTS_URL).alias("url")
    )
    hosts = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 < 4)
        .select(
            F.concat(
                F.lit("site"), (F.col("doc_id") % 5).cast("string"),
                F.lit(".com"),
            ).alias("host")
        )
        .distinct()
    )
    robots = hosts.withColumn("robots_txt", F.expr(_PLANT_ROBOTS_TXT))
    return robots_filter(docs, "url", robots)


@q("wet_roundtrip")  # no oracle: source-format op over generated files
def wet_roundtrip(spark, sf_dir):
    """Common Crawl WET source (sources/warc.py:read_wet): write a fake
    conversion-record archive, read it back (binaryFile + one
    mapInPandas), return (url, n_text_chars) — text is the raw payload,
    no HTTP envelope to strip."""
    import tempfile

    from xmlschemavalidator_spark.sources.warc import read_wet, write_fake_wet

    tmp = tempfile.mkdtemp(prefix="wetq_")
    rows = [
        {
            "url": f"https://w.example/t{i}",
            "warc_ts": "2024-05-01T00:00:00Z",
            "text": f"wet text {i} " * (i + 1),
        }
        for i in range(20)
    ]
    write_fake_wet(f"{tmp}/a.wet", rows[:10])
    write_fake_wet(f"{tmp}/b.wet.gz", rows[10:], gz=True)
    wet = read_wet(spark, tmp)
    return wet.select(
        "url", F.length("text").cast("long").alias("n_text_chars")
    )


# ring-with-chords plant: gap = 1 + (doc_id div 60) % 3 — the div must be
# written as exact-division-then-cast because Spark's `div` keyword and
# DuckDB's `//` are not shared syntax. 180 edges / 180 triangles at
# sf0.01 (measured — a functional graph like the pagerank plant is
# triangle-FREE, so it would be a vacuous oracle here).
_TRI_EDGES_SQL = (
    "SELECT doc_id % 60 AS src, "
    "(doc_id % 60 + 1 + CAST((doc_id - doc_id % 60) / 60 AS BIGINT) % 3) % 60"
    " AS dst FROM documents"
)

from xmlschemavalidator_spark.weburl import triangle_count_oracle_sql  # noqa: E402


@q("link_triangle_counts", triangle_count_oracle_sql(_TRI_EDGES_SQL))
def link_triangle_counts(spark, sf_dir):
    """Per-node triangle counts via compact-forward orientation (Latapy
    TCS'08; weburl.py:triangle_count): edges oriented low→high
    (degree, id), wedges joined only at the low end — O(m^1.5) worst
    case where the naive wedge join is hub-quadratic. The local-
    clustering signal link-farm detection keys on; oracle-exact."""
    from xmlschemavalidator_spark.weburl import triangle_count

    docs = _t(spark, sf_dir, "documents")
    gap = 1 + ((F.col("doc_id") - F.col("doc_id") % 60) / 60).cast("long") % 3
    edges = docs.select(
        (F.col("doc_id") % 60).alias("src"),
        ((F.col("doc_id") % 60 + gap) % 60).alias("dst"),
    )
    return triangle_count(edges)


_BM25_TERMS = ["spark", "hash", "window"]


def _bm25_oracle() -> str:
    from xmlschemavalidator_spark.textops import bm25_topk_sql

    return bm25_topk_sql(_BM25_TERMS, k=10)


@q("text_bm25_topk", None)  # oracle attached below (built from the shared SQL builder)
def text_bm25_topk(spark, sf_dir):
    """BM25 retrieval (Robertson; the Lucene default scorer) over the
    corpus for a fixed 3-term query: integer micro scoring (rational
    k1=1.2/b=0.75 multiplied through, DECIMAL div) so the top-10 set AND
    its order-defining scores hash-match DuckDB. One (doc, term) agg
    feeds doc lengths and query-term tfs; df is computed for the 3 query
    terms only and broadcast."""
    from xmlschemavalidator_spark.textops import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", _BM25_TERMS, k=10)


_ORACLES["text_bm25_topk"] = _bm25_oracle()


@q("text_bm25_index_topk", None)  # oracle attached below (same SQL builder)
def text_bm25_index_topk(spark, sf_dir):
    """BM25 served FROM a persisted inverted index (textindex.py):
    build_text_index writes term-bucketed postings with the doc length
    DENORMALIZED into every row (no doc-dimension join at query time);
    bm25_index_topk then lists only the probed _bucket= directories
    (PartitionFilters) and pushes term IN to row groups. Scoring is the
    exact integer BM25 of textops.bm25_topk, so the index-served top-10
    hash-matches the same DuckDB replay the from-scratch scan uses."""
    import shutil
    import tempfile

    from xmlschemavalidator_spark.textindex import (
        bm25_index_topk,
        build_text_index,
    )

    tmp = tempfile.mkdtemp(prefix="textidx_")
    try:
        docs = _t(spark, sf_dir, "documents")
        build_text_index(docs, "doc_id", f"{tmp}/idx", n_buckets=16)
        topk = bm25_index_topk(spark, f"{tmp}/idx", _BM25_TERMS, k=10)
        # materialize before the tmpdir vanishes (the driver collects
        # the returned frame later)
        return spark.createDataFrame(
            [(r["doc"], r["n_hits"], r["score_micro"]) for r in topk.collect()],
            "doc bigint, n_hits bigint, score_micro bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_ORACLES["text_bm25_index_topk"] = _bm25_oracle()


def _phrase_oracle() -> str:
    from xmlschemavalidator_spark.textindex import phrase_topk_sql

    return phrase_topk_sql(["table", "hash"], k=10)


@q("text_phrase_index_topk", None)  # oracle attached below
def text_phrase_index_topk(spark, sf_dir):
    """Exact-phrase retrieval from the positional index: token position
    p of the phrase's i-th term votes for anchor p-i; an anchor covered
    by all offsets is one occurrence (repeated phrase terms fall out of
    the same logic). The query reads only the phrase terms' _bucket=
    directories; the anchor groupBy is bounded by those terms' corpus
    frequency. Oracle replays the anchor/offset coverage from the raw
    table in DuckDB — 'table hash' occurs 48x at sf0.01, so the top-10
    and its tie-break order carry real signal."""
    import shutil
    import tempfile

    from xmlschemavalidator_spark.textindex import (
        build_text_index,
        phrase_index_topk,
    )

    tmp = tempfile.mkdtemp(prefix="phridx_")
    try:
        docs = _t(spark, sf_dir, "documents")
        build_text_index(
            docs, "doc_id", f"{tmp}/idx", n_buckets=16, positions=True
        )
        topk = phrase_index_topk(spark, f"{tmp}/idx", ["table", "hash"], k=10)
        return spark.createDataFrame(
            [(r["doc"], r["n_occurrences"]) for r in topk.collect()],
            "doc bigint, n_occurrences bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_ORACLES["text_phrase_index_topk"] = _phrase_oracle()


@q("text_index_incremental", None)  # oracle attached below
def text_index_incremental(spark, sf_dir):
    """Incremental index maintenance: build on even doc_ids, fold the odd
    half in with append_text_index (per-_batch= dirs; df/N/S summed by
    the reader, committed batches untouched — the daily-crawl shape a
    10^12-doc index needs), then serve BM25. The result must hash-match
    the SAME full-corpus DuckDB replay as the one-shot build — the merge
    is invisible to the query."""
    import shutil
    import tempfile

    from xmlschemavalidator_spark.textindex import (
        append_text_index,
        bm25_index_topk,
        build_text_index,
    )

    tmp = tempfile.mkdtemp(prefix="incidx_")
    try:
        docs = _t(spark, sf_dir, "documents")
        build_text_index(
            docs.where(F.col("doc_id") % 2 == 0),
            "doc_id",
            f"{tmp}/idx",
            n_buckets=16,
        )
        append_text_index(
            docs.where(F.col("doc_id") % 2 == 1),
            "doc_id",
            f"{tmp}/idx",
            batch_id="00001",
        )
        topk = bm25_index_topk(spark, f"{tmp}/idx", _BM25_TERMS, k=10)
        return spark.createDataFrame(
            [(r["doc"], r["n_hits"], r["score_micro"]) for r in topk.collect()],
            "doc bigint, n_hits bigint, score_micro bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_ORACLES["text_index_incremental"] = _bm25_oracle()


def _temp_mix_oracle() -> str:
    from xmlschemavalidator_spark.sampling import temperature_mix_sql

    return temperature_mix_sql("doc_id", "lang", 300, alpha=0.3)


@q("corpus_temperature_mix", None)  # oracle attached below
def corpus_temperature_mix(spark, sf_dir):
    """Temperature-sampled language mix (XLM-R alpha=0.3): per-lang rate
    ∝ n_l^alpha / n_l with content-addressed keep/upsample decisions, so
    low-resource langs are boosted smoothly (UniMax is the integer-exact
    epoch-capped alternative). One bounded groupBy + broadcast join +
    narrow projection — no corpus shuffle. Oracle replays rates AND
    per-doc membership/copies exactly (portable md5 uniform; the alpha
    pow is the one shared-ulp-caveat float)."""
    from xmlschemavalidator_spark.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mix(docs, "doc_id", "lang", budget_rows=300, alpha=0.3)
    return out.select(
        F.col("doc_id").alias("doc"), F.col("lang").alias("grp"), "n_copies"
    )


_ORACLES["corpus_temperature_mix"] = _temp_mix_oracle()


def _pmi_oracle() -> str:
    from xmlschemavalidator_spark.textops import token_pmi_topk_sql

    return token_pmi_topk_sql(k=15)


@q("token_pmi_topk", None)
def token_pmi_topk_q(spark, sf_dir):
    """Skip-gram (window=2) token-pair PMI top-15 — collocation mining
    over the corpus. Pair generation is a narrow indexed HOF over the
    let-bound token array (linear in tokens·window — never the O(L^2)
    per-doc self-join the oracle is allowed to use at sf0.01); ranking
    is the exact integer rational inside the log (monotone with PMI)."""
    from xmlschemavalidator_spark.textops import token_pmi_topk

    docs = _t(spark, sf_dir, "documents")
    return token_pmi_topk(docs, "doc_id", k=15)


_ORACLES["token_pmi_topk"] = _pmi_oracle()


@q(
    "funnel_steps",
    """WITH ev AS (
  SELECT * FROM events WHERE event_id % 97 < 13
), s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM ev GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1
                              THEN e.ts END) AS t2
  FROM ev e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2
                              THEN e.ts END) AS t3
  FROM ev e JOIN s2 ON e.user_id = s2.user_id GROUP BY e.user_id
), steps AS (
  SELECT s1.user_id,
         CASE WHEN t3 IS NOT NULL THEN 3
              WHEN t2 IS NOT NULL THEN 2
              WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS steps_completed
  FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
)
SELECT steps_completed, CAST(count(*) AS BIGINT) AS n_users
FROM steps GROUP BY 1 ORDER BY 1""",
)
def funnel_steps(spark, sf_dir):
    """Ordered funnel analysis (view → click → purchase): per user, the
    first view, the first click strictly after it, the first purchase
    strictly after that; output is users per max-step-reached. THREE
    chained window passes over ONE shuffle on user_id (each min() is a
    conditional window agg over the same partitioning — no re-exchange,
    no self-join; the oracle's 3 joins are the SQL spelling of the same
    dataflow). Timestamp compares are exact microsecond ints in both
    engines.

    PLANTED SIGNAL: the full events table converges to 'every user
    completes all 3 steps' (a 1-row result a broken funnel could fake) —
    the deterministic event_id sparse sample leaves all four step
    buckets populated (measured 19/42/44/45 at sf0.01)."""
    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 97 < 13)
    w = Window.partitionBy("user_id")
    d1 = e.withColumn(
        "_t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    d2 = d1.withColumn(
        "_t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("_t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d3 = d2.withColumn(
        "_t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("_t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = d3.groupBy("user_id").agg(
        F.max(
            F.when(F.col("_t3").isNotNull(), 3)
            .when(F.col("_t2").isNotNull(), 2)
            .when(F.col("_t1").isNotNull(), 1)
            .otherwise(0)
        ).alias("steps_completed")
    )
    return (
        per_user.groupBy("steps_completed")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("steps_completed")
    )


@q(
    "cohort_retention_staggered",
    """WITH ev AS (
  SELECT user_id, date_trunc('week', ts) AS wk FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' + INTERVAL (user_id % 21) DAY
), per_user AS (
  SELECT user_id, min(wk) AS cohort, list_distinct(list(wk)) AS wks
  FROM ev GROUP BY user_id
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort, wk) // 7 AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM (SELECT cohort, unnest(wks) AS wk FROM per_user)
GROUP BY cohort, wk ORDER BY 1, 2""",
)
def cohort_retention_staggered(spark, sf_dir):
    """Cohort retention over STAGGERED signups — the cohort_retention
    shape (one scan: per-user collect_set of active weeks carries the
    cohort, then explode + count) exercised with real cohort variety.

    PLANTED SIGNAL: every testdata user is active from day 1, so the
    base cohort_retention query collapses to ONE cohort (a broken
    cohort assignment could fake it). A deterministic per-user 'join
    date' (user_id % 21 days past the corpus epoch) staggers first-seen
    across 4 weekly cohorts / 14 cells at sf0.01, so cohort assignment,
    offset arithmetic, and the distinct-weeks dedup all carry signal."""
    e = _t(spark, sf_dir, "events").where(
        F.col("ts")
        >= F.expr(
            "TIMESTAMP '2024-01-01' + make_dt_interval(CAST(user_id % 21 AS INT))"
        )
    )
    per_user = (
        e.select(
            "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
        )
        .groupBy("user_id")
        .agg(F.min("wk").alias("cohort"), F.collect_set("wk").alias("wks"))
    )
    return (
        per_user.select("cohort", F.explode("wks").alias("wk"))
        .groupBy("cohort", "wk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff("wk", "cohort") / 7).cast("bigint").alias("week_offset"),
            "n_users",
        )
        .orderBy("cohort_week", "week_offset")
    )


# ===========================================================================
# unigram-LM subword tokenizer (unigram.py, Kudo 2018 / SentencePiece)
# ===========================================================================

# The planted replay corpus: doc_ids 0..399 (present from sf0.001 up, so
# the model is IDENTICAL at every sf), three words per doc with exactly
# known counts. The oracle trains the SAME pure-Python trainer on those
# counts at import time and interpolates the resulting segmentation as
# SQL literals — so the driver's hash compare covers the Spark word-count
# pass, the deterministic driver-side EM training, AND the broadcast-join
# encode, end to end.
_UNIGRAM_WC = [
    ("ab", 134), ("abab", 133), ("ababab", 133),
    ("cd", 200), ("cdcd", 200), ("xyz", 400),
]
_UNIGRAM_TEXT_SPARK = (
    "concat(repeat('ab', 1 + doc_id % 3), ' ', "
    "repeat('cd', 1 + doc_id % 2), ' xyz')"
)


def _unigram_planted():
    from xmlschemavalidator_spark.unigram import (
        WB,
        _viterbi,
        train_unigram_from_counts,
    )

    logp = train_unigram_from_counts(_UNIGRAM_WC, vocab_size=12, max_piece_len=6)
    seg = {w: _viterbi(WB + w, logp, 6) for w, _ in _UNIGRAM_WC}
    return logp, seg


def _unigram_replay_oracle() -> str:
    _, seg = _unigram_planted()

    def s(w):  # pieces_str literal for one word (no quotes/backslashes)
        return "|".join(seg[w])

    def n(w):
        return len(seg[w])

    return f"""\
SELECT doc_id,
       (CASE doc_id % 3 WHEN 0 THEN '{s("ab")}' WHEN 1 THEN '{s("abab")}'
             ELSE '{s("ababab")}' END)
       || '|' ||
       (CASE doc_id % 2 WHEN 0 THEN '{s("cd")}' ELSE '{s("cdcd")}' END)
       || '|' || '{s("xyz")}' AS pieces_str,
       CAST((CASE doc_id % 3 WHEN 0 THEN {n("ab")} WHEN 1 THEN {n("abab")}
             ELSE {n("ababab")} END)
       + (CASE doc_id % 2 WHEN 0 THEN {n("cd")} ELSE {n("cdcd")} END)
       + {n("xyz")} AS INT) AS n_pieces
FROM documents WHERE doc_id < 400"""


@q("unigram_encode_replay", _unigram_replay_oracle())
def unigram_encode_replay(spark, sf_dir):
    """Unigram-LM tokenizer END-TO-END against an exact oracle: a
    planted 400-doc corpus with arithmetically known word counts is
    word-counted by Spark, trained driver-side (hard-EM + pruning —
    deterministic, so the import-time Python replay of the same training
    is bit-identical), and encoded through the broadcast segmentation
    join. Training is inside the hash: a one-count drift, a different
    EM tie-break, or a stitch-order bug all flip the oracle."""
    from xmlschemavalidator_spark.unigram import train_unigram, unigram_encode

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    planted = docs.select("doc_id", F.expr(_UNIGRAM_TEXT_SPARK).alias("text"))
    model = train_unigram(planted, vocab_size=12, max_piece_len=6)
    enc = unigram_encode(planted, model, "doc_id")
    return enc.select(
        F.col("doc").alias("doc_id"),
        F.array_join("pieces", "|").alias("pieces_str"),
        F.col("n_pieces").cast("int").alias("n_pieces"),
    )


def _unigram_vocab_oracle() -> str:
    import math

    logp, _ = _unigram_planted()
    ordered = sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))
    rows = ", ".join(
        f"('{p}', CAST({i} AS BIGINT), CAST({math.floor(lp * 1_000_000)} AS BIGINT))"
        for i, (p, lp) in enumerate(ordered)
    )
    return (
        "SELECT * FROM (VALUES "
        + rows
        + ") AS t(piece, id, logprob_micro)"
    )


@q("unigram_vocab_planted", _unigram_vocab_oracle())
def unigram_vocab_planted(spark, sf_dir):
    """The trained unigram vocabulary (piece, rank id, micro-quantized
    log-prob) for the planted corpus vs the import-time training replay —
    pins the learned PROBABILITIES, not just the segmentations (two
    different models can segment a small corpus identically)."""
    from xmlschemavalidator_spark.unigram import train_unigram, unigram_vocab

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    planted = docs.select("doc_id", F.expr(_UNIGRAM_TEXT_SPARK).alias("text"))
    model = train_unigram(planted, vocab_size=12, max_piece_len=6)
    return unigram_vocab(model)


@q("unigram_tokenize")  # rows-only: full-corpus training is iterative
def unigram_tokenize(spark, sf_dir):
    """Subword-tokenize the real corpus with the in-engine-trained
    unigram-LM model: ``(doc, n_pieces, pieces_md5)``. Rows-only for the
    same reason as bpe_tokenize (EM training isn't SQL-expressible over
    an arbitrary corpus); the exact-oracle coverage lives in
    unigram_encode_replay, and the reconstruction invariant (pieces
    concat back to WB + word) is pinned in test_unigram.py."""
    from xmlschemavalidator_spark.unigram import train_unigram, unigram_encode

    docs = _t(spark, sf_dir, "documents")
    model = train_unigram(docs, vocab_size=512, max_words=50_000)
    enc = unigram_encode(docs, model, "doc_id")
    return enc.select(
        "doc", "n_pieces", F.md5(F.concat_ws("\x00", "pieces")).alias("pieces_md5")
    )


# ===========================================================================
# WordPiece subword tokenizer (wordpiece.py, Schuster & Nakajima 2012 /
# the BERT tokenizer) — same planted corpus as the unigram family, so one
# corpus exercises all three subword trainers with independent oracles.
# ===========================================================================


def _wordpiece_planted():
    from xmlschemavalidator_spark.wordpiece import (
        greedy_segment,
        train_wordpiece_from_counts,
    )

    vocab = train_wordpiece_from_counts(
        _UNIGRAM_WC, vocab_size=12, min_frequency=2
    )
    vset = frozenset(vocab)
    seg = {w: greedy_segment(w, vset) for w, _ in _UNIGRAM_WC}
    return vocab, seg


def _wordpiece_replay_oracle() -> str:
    _, seg = _wordpiece_planted()

    def s(w):  # pieces_str literal for one word (no quotes/backslashes)
        return "|".join(seg[w])

    def n(w):
        return len(seg[w])

    return f"""\
SELECT doc_id,
       (CASE doc_id % 3 WHEN 0 THEN '{s("ab")}' WHEN 1 THEN '{s("abab")}'
             ELSE '{s("ababab")}' END)
       || '|' ||
       (CASE doc_id % 2 WHEN 0 THEN '{s("cd")}' ELSE '{s("cdcd")}' END)
       || '|' || '{s("xyz")}' AS pieces_str,
       CAST((CASE doc_id % 3 WHEN 0 THEN {n("ab")} WHEN 1 THEN {n("abab")}
             ELSE {n("ababab")} END)
       + (CASE doc_id % 2 WHEN 0 THEN {n("cd")} ELSE {n("cdcd")} END)
       + {n("xyz")} AS INT) AS n_pieces
FROM documents WHERE doc_id < 400"""


@q("wordpiece_encode_replay", _wordpiece_replay_oracle())
def wordpiece_encode_replay(spark, sf_dir):
    """WordPiece END-TO-END against an exact oracle, the
    unigram_encode_replay pattern: the planted 400-doc corpus is
    word-counted by Spark, merge-trained driver-side (likelihood-scored
    pair selection via exact integer cross-multiplication — the
    import-time Python replay is bit-identical), and encoded through the
    broadcast greedy-segmentation join. A different merge choice, a
    greedy-match drift, or a stitch-order bug all flip the hash."""
    from xmlschemavalidator_spark.wordpiece import (
        train_wordpiece,
        wordpiece_encode,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    planted = docs.select("doc_id", F.expr(_UNIGRAM_TEXT_SPARK).alias("text"))
    model = train_wordpiece(planted, vocab_size=12, min_frequency=2)
    enc = wordpiece_encode(planted, model, "doc_id")
    return enc.select(
        F.col("doc").alias("doc_id"),
        F.array_join("pieces", "|").alias("pieces_str"),
        F.col("n_pieces").cast("int").alias("n_pieces"),
    )


def _wordpiece_vocab_oracle() -> str:
    from xmlschemavalidator_spark.wordpiece import UNK

    vocab, _ = _wordpiece_planted()
    rows = ", ".join(
        [f"('[UNK]', CAST(0 AS BIGINT))"]
        + [
            f"('{p}', CAST({i + 1} AS BIGINT))"
            for i, p in enumerate(v for v in vocab if v != UNK)
        ]
    )
    return "SELECT * FROM (VALUES " + rows + ") AS t(piece, id)"


@q("wordpiece_vocab_planted", _wordpiece_vocab_oracle())
def wordpiece_vocab_planted(spark, sf_dir):
    """The trained WordPiece vocabulary (piece, id) for the planted
    corpus vs the import-time training replay — pins WHICH merges the
    likelihood objective selected, not just how they segment."""
    from xmlschemavalidator_spark.wordpiece import (
        train_wordpiece,
        wordpiece_vocab,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    planted = docs.select("doc_id", F.expr(_UNIGRAM_TEXT_SPARK).alias("text"))
    model = train_wordpiece(planted, vocab_size=12, min_frequency=2)
    return wordpiece_vocab(model)


@q("wordpiece_tokenize")  # rows-only: merge training is iterative
def wordpiece_tokenize(spark, sf_dir):
    """Subword-tokenize the real corpus with the in-engine-trained
    WordPiece model: ``(doc, n_pieces, pieces_md5)``. Rows-only like
    bpe_tokenize/unigram_tokenize (iterative training isn't
    SQL-expressible over an arbitrary corpus); exact-oracle coverage
    lives in wordpiece_encode_replay, and the reconstruction invariant
    (non-UNK pieces rebuild the word stream) is in test_wordpiece.py."""
    from xmlschemavalidator_spark.wordpiece import (
        train_wordpiece,
        wordpiece_encode,
    )

    docs = _t(spark, sf_dir, "documents")
    model = train_wordpiece(docs, vocab_size=512, max_words=50_000)
    enc = wordpiece_encode(docs, model, "doc_id")
    return enc.select(
        "doc", "n_pieces", F.md5(F.concat_ws("\x00", "pieces")).alias("pieces_md5")
    )


# ===========================================================================
# round-4 widening: analyzer / drift family (chi2, Benford, FD, corr, entropy)
# ===========================================================================


@q(
    "chi_squared_drift_lang",
    """WITH cur AS (SELECT lang AS category, count(*) AS n_cur
                    FROM documents WHERE doc_id % 2 = 1 AND lang IS NOT NULL
                    GROUP BY lang),
            base AS (SELECT lang AS category, count(*) AS n_base
                     FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL
                     GROUP BY lang),
            j AS (SELECT coalesce(c.n_cur, 0) AS n_cur,
                         coalesce(b.n_base, 0) AS n_base
                  FROM cur c FULL OUTER JOIN base b USING (category)),
            s AS (SELECT n_base,
                         (n_cur * 1000000) // sum(n_cur) OVER () AS s_cur,
                         (n_base * 1000000) // sum(n_base) OVER () AS s_base
                  FROM j)
       SELECT CAST(round(sum((s_cur - s_base) * (s_cur - s_base)
                             // greatest(s_base, 1)) / 1000000.0, 6)
                   AS DOUBLE) AS chi2,
              CAST(count(*) AS BIGINT) AS n_categories,
              CAST(sum(CASE WHEN n_base = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_new_categories
       FROM s""",
)
def chi_squared_drift_lang(spark, sf_dir):
    """Categorical drift via the share-form chi-squared statistic
    (checks/drift.py chi_squared_drift): odd-doc_id half of the corpus as
    "current" vs the even half as "baseline" — a deterministic split with
    real share differences. Exactness: both sides normalize to per-million
    integer shares (n*1e6 div T, BIGINT-safe to ~9e12 rows) and the
    statistic is pure floor division + one final rounded double — no
    float ratio crosses an engine boundary. Complements ks_drift (numeric
    CDF gap) with the categorical-column form."""
    from xmlschemavalidator_spark.checks.drift import (
        categorical_histogram,
        chi_squared_drift,
    )

    docs = _t(spark, sf_dir, "documents")
    cur = categorical_histogram(docs.where(F.col("doc_id") % 2 == 1), "lang")
    base = categorical_histogram(docs.where(F.col("doc_id") % 2 == 0), "lang")
    return chi_squared_drift(cur, base)


@q(
    "benford_event_values",
    """WITH m AS (SELECT CAST(floor(value * 100) AS BIGINT) AS m
                  FROM events WHERE value IS NOT NULL AND value < 9.0e15),
            c AS (SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                         count(*) AS n
                  FROM m WHERE m > 0 GROUP BY 1),
            e(digit, expected_micro) AS (VALUES
                (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
                (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
            j AS (SELECT e.digit,
                         CAST(coalesce(c.n, 0) AS BIGINT) AS n,
                         CAST(e.expected_micro AS BIGINT) AS expected_micro
                  FROM e LEFT JOIN c ON e.digit = c.digit),
            s AS (SELECT digit, n,
                         CASE WHEN sum(n) OVER () > 0
                              THEN (n * 1000000) // sum(n) OVER ()
                              ELSE CAST(0 AS BIGINT) END AS share_micro,
                         expected_micro
                  FROM j)
       SELECT digit, n, share_micro, expected_micro,
              abs(share_micro - expected_micro) AS dev_micro
       FROM s ORDER BY digit""",
)
def benford_event_values(spark, sf_dir):
    """Benford first-significant-digit audit of events.value
    (checks/drift.py benford_first_digit) — the fabricated-data smell
    test. Digit extraction goes through integer hundredths and the
    INTEGER's decimal string (double->string formats diverge across
    engines; log10-based extraction is wrong at exact powers of ten);
    expected shares are literal micro constants summing to exactly 1e6.
    Every cell is integer arithmetic — hash-exact."""
    from xmlschemavalidator_spark.checks.drift import benford_first_digit

    return benford_first_digit(_t(spark, sf_dir, "events"), "value")


@q(
    "fd_violating_sources",
    """WITH pair AS (SELECT source, lang, count(*) AS _n
                     FROM documents GROUP BY source, lang)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_rhs_values,
              CAST(sum(_n) AS BIGINT) AS n_rows
       FROM pair GROUP BY source
       HAVING count(*) > 1
       ORDER BY source""",
)
def fd_violating_sources(spark, sf_dir):
    """Functional-dependency check source -> lang on documents
    (checks/fd.py): LHS groups mapping to more than one rhs value, with
    fan-out. The two-level aggregate (groupBy(lhs, rhs) then groupBy(lhs))
    is partial-aggregatable map-side — a hot source reaches the shuffle
    as one row per distinct lang, never one per document; countDistinct
    straight over the raw table wouldn't."""
    from xmlschemavalidator_spark.checks.fd import fd_violating_keys

    docs = _t(spark, sf_dir, "documents")
    return fd_violating_keys(docs, ["source"], "lang").orderBy("source")


@q(
    "fd_violation_rows_sample",
    """WITH bad AS (SELECT source FROM (
                      SELECT source, lang FROM documents GROUP BY source, lang)
                    GROUP BY source HAVING count(*) > 1)
       SELECT d.doc_id, 'fd_source_to_lang' AS rule_id,
              CAST(d.lang AS VARCHAR) AS observed_value, d.source
       FROM documents d SEMI JOIN bad ON d.source IS NOT DISTINCT FROM bad.source
       ORDER BY d.doc_id""",
)
def fd_violation_rows_sample(spark, sf_dir):
    """The violation-row form of the FD check — every document whose
    source breaks source -> lang, in the engine's standard violation
    shape (id, rule_id, observed_value, lhs) so FD findings flow into
    the same sink as facet/uniqueness violations. One semi join against
    the (tiny) offending-LHS set."""
    from xmlschemavalidator_spark.checks.fd import fd_violation_rows

    docs = _t(spark, sf_dir, "documents")
    return fd_violation_rows(
        docs, ["source"], "lang", "doc_id", rule_id="fd_source_to_lang"
    ).orderBy("doc_id")


@q(
    "pearson_corr_lineitem",
    """WITH q AS (SELECT CAST(floor(l_quantity * 1000000) AS HUGEINT) AS x,
                         CAST(floor(l_extendedprice * 1000000) AS HUGEINT) AS y
                  FROM lineitem
                  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         sum(x) AS sx, sum(y) AS sy,
                         sum(x * x) AS sxx, sum(y * y) AS syy,
                         sum(x * y) AS sxy
                  FROM q)
       SELECT n,
              CAST(round(
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                  6) AS DOUBLE) AS corr,
              CAST(round(
                  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0))
                  / 1000000000000.0, 6) AS DOUBLE) AS cov
       FROM a""",
)
def pearson_corr_lineitem(spark, sf_dir):
    """Exact-reproducible Pearson correlation between l_quantity and
    l_extendedprice (checks/stats.py pearson_correlation, the Deequ
    correlation analyzer). The five moment sums run in DECIMAL(38,0)
    over 1e-6-quantized values (order-independent — a float sum of
    squares flips its last ulp with partition order); the final r is a
    fixed double chain whose only root is IEEE-correctly-rounded sqrt.
    ONE aggregate, 1-row output."""
    from xmlschemavalidator_spark.checks.stats import pearson_correlation

    li = _t(spark, sf_dir, "lineitem")
    return pearson_correlation(li, "l_quantity", "l_extendedprice")


@q(
    "entropy_doc_lang",
    """WITH c AS (SELECT coalesce(CAST(lang AS VARCHAR), ' null') AS _c,
                         count(*) AS _n
                  FROM documents GROUP BY 1),
            t AS (SELECT _n,
                         CAST(round((_n / CAST(sum(_n) OVER () AS DOUBLE))
                                    * ln(_n / CAST(sum(_n) OVER () AS DOUBLE)),
                                    12) AS DECIMAL(20,12)) AS _term
                  FROM c)
       SELECT CAST(round(-sum(_term), 6) AS DOUBLE) AS entropy,
              CAST(count(*) AS BIGINT) AS n_categories,
              CAST(sum(_n) AS BIGINT) AS n_rows
       FROM t""",
)
def entropy_doc_lang(spark, sf_dir):
    """Shannon entropy of documents.lang in nats (checks/stats.py
    categorical_entropy, the Deequ entropy analyzer) — the
    column-collapse / cardinality-explosion watchdog. Each p*ln(p) term
    is rounded to 12 dp then summed in DECIMAL (order-independent); p is
    an exact rational in double on both engines, so the only cross-engine
    exposure is the last ulp of ln on identical inputs — the same
    libm-double contract the Gumbel/DSIR oracles already rely on."""
    from xmlschemavalidator_spark.checks.stats import categorical_entropy

    return categorical_entropy(_t(spark, sf_dir, "documents"), "lang")


@q(
    "snm_part_name_pairs",
    """WITH b AS (SELECT p_partkey AS id, p_name AS key,
                         substr(p_name, 1, 4) AS blk
                  FROM part WHERE p_name IS NOT NULL),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY blk ORDER BY key, id) AS rn
                  FROM b)
       SELECT a.id AS id_a, c.id AS id_b, a.key AS key_a, c.key AS key_b,
              CAST(levenshtein(a.key, c.key) AS INTEGER) AS distance
       FROM r a JOIN r c ON a.blk = c.blk AND c.rn - a.rn BETWEEN 1 AND 4
       WHERE levenshtein(a.key, c.key) <= 3
       ORDER BY id_a, id_b""",
)
def snm_part_name_pairs(spark, sf_dir):
    """Sorted-neighborhood entity-resolution candidates over part names
    (dedup.py sorted_neighborhood_pairs, Hernandez & Stolfo SIGMOD'95):
    block on a 4-char key prefix, sort within block, window 5, verify
    with exact Levenshtein (<= 3, measured to keep distance-0 exact dups
    plus the near-miss tail). Pair generation is lead-structs exploded
    in place — linear in rows x window, no rank-range self-join; the
    oracle replays it as the rank-difference join (equivalent on the
    same deterministic (key, id) order, feasible at oracle scale)."""
    from xmlschemavalidator_spark.dedup import sorted_neighborhood_pairs

    part = _t(spark, sf_dir, "part")
    pairs = sorted_neighborhood_pairs(
        part, "p_partkey", "p_name", window=5, block_chars=4, max_distance=3
    )
    return pairs.select(
        "id_a", "id_b", "key_a", "key_b", F.col("distance").cast("int").alias("distance")
    ).orderBy("id_a", "id_b")


from xmlschemavalidator_spark.weburl import bfs_oracle_sql  # noqa: E402


@q("link_bfs_distances", bfs_oracle_sql(_EDGES_SQL, sources=[0, 7], max_hops=6))
def link_bfs_distances(spark, sf_dir):
    """Multi-source BFS hop distances from seeds {0, 7} over the planted
    link graph (weburl.py:bfs_distances) — crawl-frontier depth / the
    exact counterpart of HyperBall's ball sizes. Pregel-shaped: each
    round joins only the SHRINKING frontier against edges and anti-joins
    reached nodes (first-reach is min-distance, no re-relaxation),
    lineage cut per round. All-integer, vs the bounded recursive-CTE
    DuckDB replay."""
    from xmlschemavalidator_spark.weburl import bfs_distances

    return bfs_distances(_edges(spark, sf_dir), sources=[0, 7], max_hops=6)


@q(
    "link_prediction_common_neighbors",
    f"""WITH e0 AS ({_EDGES_SQL}),
        adj AS (SELECT DISTINCT u, v FROM (
                    SELECT src AS u, dst AS v FROM e0 WHERE src <> dst
                    UNION ALL
                    SELECT dst, src FROM e0 WHERE src <> dst)),
        deg AS (SELECT u AS node, count(*) AS deg FROM adj GROUP BY u),
        centers AS (SELECT a.u AS w, a.v FROM adj a
                    JOIN deg d ON a.u = d.node WHERE d.deg <= 10000),
        wedges AS (SELECT l.v AS node_a, r.v AS node_b,
                          count(*) AS n_common
                   FROM centers l JOIN centers r
                     ON l.w = r.w AND l.v < r.v
                   GROUP BY 1, 2 HAVING count(*) >= 2),
        existing AS (SELECT u AS node_a, v AS node_b FROM adj WHERE u < v),
        cand AS (SELECT w.* FROM wedges w ANTI JOIN existing x
                   ON w.node_a = x.node_a AND w.node_b = x.node_b)
        SELECT c.node_a, c.node_b, CAST(c.n_common AS BIGINT) AS n_common,
               CAST((c.n_common * 1000000) // (da.deg + db.deg - c.n_common)
                    AS BIGINT) AS jaccard_micro
        FROM cand c JOIN deg da ON c.node_a = da.node
                    JOIN deg db ON c.node_b = db.node
        ORDER BY node_a, node_b""",
)
def link_prediction_common_neighbors(spark, sf_dir):
    """Common-neighbor / Jaccard link prediction (weburl.py:
    common_neighbor_candidates, Liben-Nowell & Kleinberg CIKM'03):
    non-adjacent pairs sharing >= 2 neighbors in the undirected planted
    graph, scored n_common and integer-micro neighborhood Jaccard.
    Wedges are center-generated with a degree cap + audit surface
    (wedge_hot_centers) — the engine's standard refusal of hub-quadratic
    pair explosions — and every score is integer arithmetic, so the
    full candidate ranking is hash-exact."""
    from xmlschemavalidator_spark.weburl import common_neighbor_candidates

    return common_neighbor_candidates(
        _edges(spark, sf_dir), min_common=2
    ).orderBy("node_a", "node_b")


from xmlschemavalidator_spark.sampling import weighted_sample_sql  # noqa: E402


@q(
    "weighted_sample_docs",
    weighted_sample_sql(
        "SELECT doc_id, lang, n_chars FROM documents", "doc_id", "n_chars", 50
    ),
)
def weighted_sample_docs(spark, sf_dir):
    """Weighted sampling without replacement (sampling.py:
    weighted_sample, Efraimidis & Spirakis IPL'06): 50 documents drawn
    proportional to n_chars via exponential keys ln(u)/w over the
    content-addressed md5 uniform — the generic any-weight-column form
    of DSIR's Gumbel top-k. The sample is a pure function of
    (salt, id, weight): stable across runs/engines, and the oracle
    replays the identical key and (key, id) order."""
    from xmlschemavalidator_spark.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=50)


@q(
    "order_violations_events",
    """WITH p AS (SELECT event_id, user_id,
                         CAST(ts AS TIMESTAMP)
                           - (event_id % 37) * INTERVAL 1 MINUTE AS ts2
                  FROM events),
            w AS (SELECT event_id, user_id, ts2,
                         max(ts2) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                             AS pm
                  FROM p)
       SELECT event_id, 'order_ts2_by_event_id' AS rule_id,
              strftime(ts2, '%Y-%m-%d %H:%M:%S') AS observed_value,
              user_id,
              strftime(pm, '%Y-%m-%d %H:%M:%S') AS prev_max_ts
       FROM w WHERE pm IS NOT NULL AND ts2 < pm
       ORDER BY event_id""",
)
def order_violations_events(spark, sf_dir):
    """Per-key time-monotonicity check (checks/sequence.py:
    order_violations): within each user, event time must not run
    backwards along the log order. The running max — not lag — is the
    real stream invariant: after one late row, in-order successors
    would "recover" under lag while still trailing the advanced
    watermark. Disorder is planted deterministically (each event
    shifted back event_id%37 minutes) because the synthetic log is
    naturally ordered — a 0-row result would prove nothing."""
    from xmlschemavalidator_spark.checks.sequence import order_violations

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(
            "CAST(ts AS TIMESTAMP) - make_interval(0, 0, 0, 0, 0, "
            "CAST(event_id % 37 AS INT), 0)"
        ).alias("ts2"),
    )
    return order_violations(
        ev, key="user_id", ts="ts2", order_col="event_id", id_col="event_id"
    ).orderBy("event_id")


@q(
    "sequence_gaps_lineitem",
    """WITH f AS (SELECT l_orderkey, l_linenumber FROM lineitem
                  WHERE l_linenumber <> 2),
            p AS (SELECT l_orderkey, l_linenumber, count(*) AS _n
                  FROM f GROUP BY 1, 2)
       SELECT l_orderkey,
              CAST(sum(_n) AS BIGINT) AS n_rows,
              CAST(count(l_linenumber) AS BIGINT) AS n_distinct,
              CAST(min(l_linenumber) AS BIGINT) AS min_seq,
              CAST(max(l_linenumber) AS BIGINT) AS max_seq,
              CAST((max(l_linenumber) - min(l_linenumber) + 1)
                   - count(l_linenumber) AS BIGINT) AS n_missing,
              CAST(sum(CASE WHEN l_linenumber IS NOT NULL THEN _n ELSE 0 END)
                   - count(l_linenumber) AS BIGINT) AS n_duplicates
       FROM p GROUP BY l_orderkey
       HAVING (max(l_linenumber) - min(l_linenumber) + 1)
              - count(l_linenumber) > 0
       ORDER BY l_orderkey""",
)
def sequence_gaps_lineitem(spark, sf_dir):
    """Sequence-contiguity check (checks/sequence.py:
    sequence_gap_summary): per-order line numbers with line 2 dropped to
    plant gaps (lineitem ships contiguous 1..n — again, zeros would
    prove nothing). Two-level aggregate: duplicates collapse map-side
    before the per-key rollup. Only gapped keys are returned (~10k at
    sf0.01)."""
    from xmlschemavalidator_spark.checks.sequence import sequence_gap_summary

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linenumber") != 2)
    return (
        sequence_gap_summary(li, "l_orderkey", "l_linenumber")
        .where(F.col("n_missing") > 0)
        .orderBy("l_orderkey")
    )


from xmlschemavalidator_spark.weburl import (  # noqa: E402
    label_propagation_oracle_sql,
    ppr_oracle_sql,
)


@q("link_label_propagation", label_propagation_oracle_sql(_EDGES_SQL, iterations=4))
def link_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation (weburl.py:
    label_propagation, Raghavan et al. PRE'07): 4 rounds of adopt-the-
    most-frequent-neighbor-label with smallest-label tie-break —
    community structure WITHIN components, where CC only sees
    connectivity. Per round one shuffle join + a two-level
    partial-aggregatable count + arg-min, lineage cut; the oracle
    unrolls the rounds with MATERIALIZED CTEs (the HITS lesson) and
    hashes identically because the tie-break is total."""
    from xmlschemavalidator_spark.weburl import label_propagation

    return label_propagation(_edges(spark, sf_dir), iterations=4)


@q("link_personalized_pagerank", ppr_oracle_sql(_EDGES_SQL, seeds=[0, 7], iterations=8))
def link_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from seeds {0, 7} (weburl.py:
    personalized_pagerank, Haveliwala WWW'02): the pagerank integer-
    micro machinery with teleport mass restricted to the seed set —
    rank becomes seed-proximity (related pages, whitelist trust).
    Same per-iteration plan as pagerank; the seed base term is a
    literal IN predicate (seed sets are hand-picked small). Bit-exact
    vs the unrolled replay."""
    from xmlschemavalidator_spark.weburl import personalized_pagerank

    return personalized_pagerank(
        _edges(spark, sf_dir), seeds=[0, 7], iterations=8
    )


@q(
    "ecdf_normalize_chars",
    """SELECT doc_id, lang, n_chars,
              CASE WHEN n > 1 THEN (rn - 1) * 1000000 // (n - 1)
                   ELSE 0 END AS pct_micro
       FROM (SELECT doc_id, lang, n_chars,
                    CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS rn,
                    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
             FROM documents WHERE n_chars IS NOT NULL)
       ORDER BY doc_id""",
)
def ecdf_normalize_chars(spark, sf_dir):
    """Per-language ECDF (percentile-rank) normalization of a score
    column (quality_model.py:ecdf_normalize): raw scores aren't
    comparable across languages; "top 30% within its language" is —
    CCNet's terciles are the 3-bucket special case. Integer
    (rank−1)·10⁶ div (n−1) with (score, id) tie-break: a pure function
    of the group multiset, hash-exact."""
    from xmlschemavalidator_spark.quality_model import ecdf_normalize

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return ecdf_normalize(
        docs, "n_chars", "doc_id", group_cols=("lang",)
    ).orderBy("doc_id")


@q(
    "snm_entity_clusters",
    """WITH RECURSIVE b AS (SELECT p_partkey AS id, p_name AS key,
                                   substr(p_name, 1, 4) AS blk
                            FROM part WHERE p_name IS NOT NULL),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY blk ORDER BY key, id) AS rn FROM b),
        pairs AS (SELECT a.id AS id_a, c.id AS id_b
                  FROM r a JOIN r c ON a.blk = c.blk
                       AND c.rn - a.rn BETWEEN 1 AND 4
                  WHERE levenshtein(a.key, c.key) <= 2),
        edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(doc, rt) AS (
            SELECT s, s FROM edges
            UNION
            SELECT e.s, r2.rt FROM edges e JOIN reach r2 ON e.d = r2.doc
        )
        SELECT doc AS id, CAST(min(rt) AS BIGINT) AS cluster
        FROM reach GROUP BY doc ORDER BY id""",
)
def snm_entity_clusters(spark, sf_dir):
    """End-to-end entity resolution: sorted-neighborhood candidate pairs
    (Levenshtein <= 2) fed into the SAME min-label connected-components
    engine as near-dup clustering (dedup.py:near_duplicate_clusters) —
    blocking, verification and transitive merge composed from existing
    layers, vs the recursive-CTE closure. The ER story the SNM pairs
    exist for: duplicate part records collapse into one entity id."""
    from xmlschemavalidator_spark.dedup import (
        near_duplicate_clusters,
        sorted_neighborhood_pairs,
    )

    part = _t(spark, sf_dir, "part")
    pairs = sorted_neighborhood_pairs(
        part, "p_partkey", "p_name", window=5, block_chars=4, max_distance=2
    ).select("id_a", "id_b")
    return (
        near_duplicate_clusters(pairs)
        .select(F.col("doc").alias("id"), F.col("cluster"))
        .orderBy("id")
    )


from xmlschemavalidator_spark.textops import flesch_reading_ease_sql  # noqa: E402
from xmlschemavalidator_spark.weburl import url_shape_signals_sql  # noqa: E402

# the canonical-URL plant plus a numeric-IP host arm so has_ip_host sees
# both branches
_SHAPE_URL = f"""CASE WHEN doc_id % 11 = 0
    THEN concat('http://192.168.', CAST(doc_id % 256 AS STRING), '.9:8080/x/y?a=1&b=2')
    ELSE {_PLANT_URL} END"""

_SHAPE_SIG_SQL = url_shape_signals_sql("u")


@q(
    "url_shape_signals",
    f"""SELECT doc_id,
               {_SHAPE_SIG_SQL['url_len']} AS url_len,
               {_SHAPE_SIG_SQL['path_depth']} AS path_depth,
               {_SHAPE_SIG_SQL['n_query_params']} AS n_query_params,
               {_SHAPE_SIG_SQL['has_ip_host']} AS has_ip_host,
               {_SHAPE_SIG_SQL['host_digit_ratio_micro']} AS host_digit_ratio_micro,
               {_SHAPE_SIG_SQL['is_https']} AS is_https
        FROM (SELECT doc_id, {_SHAPE_URL} AS u FROM documents)
        ORDER BY doc_id""",
)
def url_shape_signals_q(spark, sf_dir):
    """URL shape features for spam/link-farm priors (weburl.py:
    url_shape_signals — the URL-only counterpart of outlink_signals):
    length, path depth, query-param count, numeric-IP host, digit-heavy
    host ratio, https. One narrow projection over the planted URL set
    (with an IP-host arm so both has_ip_host branches carry signal);
    every feature regex+integer, oracle-exact."""
    from xmlschemavalidator_spark.weburl import url_shape_signals

    docs = _t(spark, sf_dir, "documents")
    sig = url_shape_signals(F.expr(_SHAPE_URL))
    return docs.select(
        "doc_id", *[v.alias(k) for k, v in sig.items()]
    ).orderBy("doc_id")


@q(
    "text_readability",
    f"""SELECT doc_id, {flesch_reading_ease_sql('text')} AS fre
        FROM documents ORDER BY doc_id""",
)
def text_readability(spark, sf_dir):
    """Flesch reading-ease per document (textops.py:
    flesch_reading_ease) — the readability prior: three exact integer
    counts (whitespace words, sentence-punctuation runs, vowel-group
    runs via the collapse trick — no explode) feeding a fixed double
    chain, deterministic across engines like the Pearson finish."""
    from xmlschemavalidator_spark.textops import flesch_reading_ease

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", flesch_reading_ease(F.col("text")).alias("fre")
    ).orderBy("doc_id")


@q(
    "moments_event_value",
    """WITH q AS (SELECT CAST(floor(value * 1000) AS HUGEINT) AS x
                  FROM events WHERE value IS NOT NULL),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS s1,
                         sum(x*x) AS s2, sum(x*x*x) AS s3,
                         sum(x*x*x*x) AS s4
                  FROM q),
            m AS (SELECT n,
                         CAST(s1 AS DOUBLE) / n AS m1,
                         CAST(s2 AS DOUBLE) / n AS r2,
                         CAST(s3 AS DOUBLE) / n AS r3,
                         CAST(s4 AS DOUBLE) / n AS r4
                  FROM a),
            c AS (SELECT n, m1, r2 - m1*m1 AS m2,
                         r3 - 3.0*m1*r2 + 2.0*m1*m1*m1 AS m3,
                         r4 - 4.0*m1*r3 + 6.0*m1*m1*r2 - 3.0*m1*m1*m1*m1 AS m4
                  FROM m)
       SELECT n,
              CAST(round(m1 / 1000.0, 6) AS DOUBLE) AS mean,
              CAST(round(CASE WHEN n > 1 THEN m2 * n / (n - 1.0)
                              / 1000000.0 END, 6) AS DOUBLE) AS variance,
              CAST(round(CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END, 6)
                   AS DOUBLE) AS skewness,
              CAST(round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END, 6)
                   AS DOUBLE) AS kurtosis
       FROM c""",
)
def moments_event_value(spark, sf_dir):
    """Four-moment numeric profile of events.value (checks/stats.py:
    moments_profile): mean, sample variance, skewness, excess kurtosis
    — shape drift at constant mean is what stddev alerts miss. All
    power sums in DECIMAL(38,0) over 1e-3-quantized values (the 4th
    power bounds the headroom), fixed double chain after — the Pearson
    contract extended to moments 3 and 4."""
    from xmlschemavalidator_spark.checks.stats import moments_profile

    return moments_profile(_t(spark, sf_dir, "events"), "value")


@q(
    "trimmed_mean_event_value",
    """WITH r AS (SELECT event_type, value,
                         row_number() OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS rn,
                         count(*) OVER (PARTITION BY event_type) AS n
                  FROM events WHERE value IS NOT NULL)
       SELECT event_type,
              CAST(max(n) AS BIGINT) AS n,
              CAST(max((n * 5) // 100) AS BIGINT) AS n_trimmed_each_side,
              CAST(round(CAST(sum(CAST(floor(value * 1000000) AS HUGEINT))
                              AS DOUBLE) / count(*) / 1000000.0, 6)
                   AS DOUBLE) AS trimmed_mean
       FROM r
       WHERE rn > (n * 5) // 100 AND rn <= n - (n * 5) // 100
       GROUP BY event_type ORDER BY event_type""",
)
def trimmed_mean_event_value(spark, sf_dir):
    """Exact 5%-trimmed mean per event type (checks/stats.py:
    trimmed_mean) — the robust location metric between mean and median.
    WHICH rows are trimmed is deterministic (row_number over
    (value, id)); the kept values sum in DECIMAL over quantized values,
    one final division — hash-exact like the Hampel outlier set."""
    from xmlschemavalidator_spark.checks.stats import trimmed_mean

    ev = _t(spark, sf_dir, "events")
    return trimmed_mean(
        ev, "value", "event_id", trim_pct=5, group_cols=("event_type",)
    ).orderBy("event_type")


@q(
    "suggest_fds_orders",
    """WITH a AS (SELECT count(DISTINCT ROW(o_orderkey)) AS d_ok,
                         count(DISTINCT ROW(o_custkey)) AS d_ck,
                         count(DISTINCT ROW(o_orderstatus)) AS d_st,
                         count(DISTINCT ROW(o_orderkey, o_custkey)) AS p_ok_ck,
                         count(DISTINCT ROW(o_orderkey, o_orderstatus)) AS p_ok_st,
                         count(DISTINCT ROW(o_custkey, o_orderkey)) AS p_ck_ok,
                         count(DISTINCT ROW(o_custkey, o_orderstatus)) AS p_ck_st,
                         count(DISTINCT ROW(o_orderstatus, o_orderkey)) AS p_st_ok,
                         count(DISTINCT ROW(o_orderstatus, o_custkey)) AS p_st_ck
                  FROM orders)
       SELECT lhs, rhs, CAST(n_lhs AS BIGINT) AS n_lhs,
              CAST(n_pairs AS BIGINT) AS n_pairs, n_pairs = n_lhs AS holds
       FROM (
         SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs, d_ok AS n_lhs, p_ok_ck AS n_pairs FROM a
         UNION ALL SELECT 'o_orderkey', 'o_orderstatus', d_ok, p_ok_st FROM a
         UNION ALL SELECT 'o_custkey', 'o_orderkey', d_ck, p_ck_ok FROM a
         UNION ALL SELECT 'o_custkey', 'o_orderstatus', d_ck, p_ck_st FROM a
         UNION ALL SELECT 'o_orderstatus', 'o_orderkey', d_st, p_st_ok FROM a
         UNION ALL SELECT 'o_orderstatus', 'o_custkey', d_st, p_st_ck FROM a)
       ORDER BY lhs, rhs""",
)
def suggest_fds_orders(spark, sf_dir):
    """FD mining over orders (checks/fd.py:suggest_fds): one aggregation
    job answers every ordered-pair dependency — o_orderkey → * holds
    (orderkey is unique), nothing determines o_orderkey back. Discovered
    FDs become fd_violation_rows monitors on future snapshots: mine once
    on a healthy snapshot, enforce forever."""
    from xmlschemavalidator_spark.checks.fd import suggest_fds

    orders = _t(spark, sf_dir, "orders")
    return suggest_fds(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus"]
    ).orderBy("lhs", "rhs")


@q(
    "link_wedge_hot_centers",
    f"""WITH e0 AS ({_EDGES_SQL}),
        adj AS (SELECT DISTINCT u, v FROM (
            SELECT src AS u, dst AS v FROM e0 WHERE src <> dst
            UNION ALL SELECT dst, src FROM e0 WHERE src <> dst))
        SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
        FROM adj GROUP BY u HAVING count(*) > 1 ORDER BY node""",
)
def link_wedge_hot_centers(spark, sf_dir):
    """The audit surface for the link-prediction wedge cap
    (weburl.py:wedge_hot_centers, registered as a driver query per the
    no-silent-caps convention — simhash_hot_chunks' shape): every
    center whose degree exceeds the cap and was excluded from wedge
    generation, with its degree. Cap 1 here — the planted permutation
    s -> (7s+3) mod 60 gives undirected degree 2 everywhere EXCEPT its
    six 2-cycles, whose 12 nodes have degree 1 (self-paired edges
    collapse) — so cap 1 yields exactly the 48 degree-2 rows, while any
    higher cap would "pass" on an empty audit, which proves nothing;
    empty means the candidate set is complete."""
    from xmlschemavalidator_spark.weburl import wedge_hot_centers

    return wedge_hot_centers(
        _edges(spark, sf_dir), max_center_degree=1
    ).orderBy("node")


@q("ngram_jaccard_pairs_prefix", _JACCARD_SQL.format(thr=0.12))
def ngram_jaccard_pairs_prefix(spark, sf_dir):
    """The SAME exact Jaccard pair set as ngram_jaccard_pairs, computed
    via PREFIX FILTERING (dedup.py:jaccard_pairs_prefix, PPJoin family —
    Xiao et al. WWW'08): only each doc's rarest n − ceil(t·n) + 1
    shingles are indexed, which is LOSSLESS by theorem, so this query
    shares ngram_jaccard_pairs' oracle verbatim. At production
    thresholds (t≈0.8) the index shrinks ~5× and sheds exactly the
    boilerplate-hot postings the capped full index must audit; at this
    query's deliberately low t=0.12 the prefix is ~89% — the honest
    worst case, still exact."""
    from xmlschemavalidator_spark.dedup import jaccard_pairs_prefix

    return jaccard_pairs_prefix(
        _t(spark, sf_dir, "documents"), "doc_id", shingle_n=3, threshold=0.12
    )


@q(
    "equiheight_hist_event_value",
    """WITH r AS (SELECT CAST(value AS DOUBLE) AS v, event_id,
                         ntile(10) OVER (ORDER BY CAST(value AS DOUBLE),
                                         event_id) AS bucket
                  FROM events WHERE value IS NOT NULL)
       SELECT bucket, CAST(count(*) AS BIGINT) AS n,
              CAST(round(min(v), 6) AS DOUBLE) AS lo,
              CAST(round(max(v), 6) AS DOUBLE) AS hi
       FROM r GROUP BY bucket ORDER BY bucket""",
)
def equiheight_hist_event_value(spark, sf_dir):
    """Equi-HEIGHT histogram of events.value (checks/drift.py:
    equiheight_histogram): 10 rank-exact ntile buckets over the
    (value, id) total order — the drift input for skewed columns, where
    equi-width bucketing goes blind. Deterministic tie-break makes the
    bucket boundaries hash-exact (percentile_approx boundaries are
    sketch-dependent); this exact form is the sketched path's
    correctness oracle."""
    from xmlschemavalidator_spark.checks.drift import equiheight_histogram

    ev = _t(spark, sf_dir, "events")
    return equiheight_histogram(ev, "value", "event_id", k=10).orderBy("bucket")


@q(
    "schema_evolution_compat",
    """SELECT column_ AS "column", change, old, new, compatible
       FROM (VALUES
         ('html_len', 'column_added', NULL, 'bigint', TRUE),
         ('n_chars', 'type_changed', 'bigint', 'int', FALSE),
         ('source', 'column_removed', 'string', NULL, FALSE))
       t(column_, change, old, new, compatible)
       ORDER BY column_""",
)
def schema_evolution_compat(spark, sf_dir):
    """Schema-evolution compatibility check (checks/schema.py:
    schema_compat — the pre-flight upstream-broke-the-contract gate,
    ZERO jobs: pure driver-side StructType compare): documents vs a
    planted next-release schema (one added column, one narrowed type,
    one removed column). The oracle is the literal expected change set —
    trivially exact, but it pins the output contract the manifest
    consumes."""
    from xmlschemavalidator_spark.checks.schema import schema_compat

    old = _t(spark, sf_dir, "documents")
    new = old.withColumn("n_chars", F.col("n_chars").cast("int")).drop(
        "source"
    ).withColumn("html_len", F.length("text").cast("bigint"))
    return schema_compat(old, new).orderBy("column")


@q(
    "ols_trend_daily_events",
    """WITH daily AS (SELECT event_type,
                             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                                  AS BIGINT) AS day,
                             CAST(count(*) AS BIGINT) AS n_events
                      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
            q AS (SELECT event_type,
                         CAST(floor(day * 1000000) AS HUGEINT) AS x,
                         CAST(floor(n_events * 1000000) AS HUGEINT) AS y
                  FROM daily),
            a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                         sum(x) AS sx, sum(y) AS sy,
                         sum(x * x) AS sxx, sum(y * y) AS syy,
                         sum(x * y) AS sxy
                  FROM q GROUP BY 1)
       SELECT event_type, n,
              CAST(round(CASE WHEN (n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE) > 0
                  THEN (n::DOUBLE*sxy::DOUBLE - sx::DOUBLE*sy::DOUBLE)
                       / (n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE) END, 6)
                   AS DOUBLE) AS slope,
              CAST(round(CASE WHEN (n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE) > 0
                  THEN (sy::DOUBLE - ((n::DOUBLE*sxy::DOUBLE - sx::DOUBLE*sy::DOUBLE)
                                      / (n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE))
                                     * sx::DOUBLE) / n::DOUBLE / 1000000.0 END, 6)
                   AS DOUBLE) AS intercept,
              CAST(round(CASE WHEN (n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE) > 0
                              AND (n::DOUBLE*syy::DOUBLE - sy::DOUBLE*sy::DOUBLE) > 0
                  THEN (n::DOUBLE*sxy::DOUBLE - sx::DOUBLE*sy::DOUBLE)
                       * (n::DOUBLE*sxy::DOUBLE - sx::DOUBLE*sy::DOUBLE)
                       / ((n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE)
                          * (n::DOUBLE*syy::DOUBLE - sy::DOUBLE*sy::DOUBLE)) END, 6)
                   AS DOUBLE) AS r2
       FROM a ORDER BY event_type""",
)
def ols_trend_daily_events(spark, sf_dir):
    """Per-group least-squares trend (checks/stats.py:ols_trend): the
    slope/intercept/r2 of daily event counts per event_type — "is this
    stream drifting and how fast", the rate question Pearson's r alone
    doesn't answer. Five moment sums in DECIMAL(38,0) over
    1e-6-quantized values (partition-order-independent), finals a fixed
    double chain with no sqrt/ln — HUGEINT replays it to the last ulp.
    ONE grouped aggregate; regression math on #groups rows."""
    from xmlschemavalidator_spark.checks.stats import ols_trend

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.expr(
                "CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 AS BIGINT)"
            ).alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    return ols_trend(
        daily, "day", "n_events", group_cols=("event_type",)
    ).orderBy("event_type")


def _winnow_fps_sql(k: int, w: int) -> str:
    """DuckDB replay of dedup.py:winnowing_fingerprints at (k, w):
    nested-lambda two-pass rightmost-argmin per window (list_distinct on
    structs is unimplemented in DuckDB 1.0, so dedup happens via
    SELECT DISTINCT after unnest)."""
    return f"""
WITH t AS (SELECT doc_id, substr(coalesce(text, ''), 1, 20000) AS wt FROM documents),
g AS (SELECT doc_id,
             CASE WHEN length(wt) - {k - 1} < 1 THEN NULL
                  ELSE list_transform(range(1, length(wt) - {k - 1} + 1),
                         i -> CAST('0x' || substr(md5(substr(wt, i, {k})), 1, 8) AS BIGINT))
             END AS hs
      FROM t),
s AS (SELECT doc_id,
             CASE WHEN hs IS NULL THEN NULL
                  WHEN len(hs) < {w} THEN
                    [struct_pack(pos := CAST(list_max(list_transform(range(1, len(hs) + 1),
                                     i -> CASE WHEN hs[i] = list_min(hs) THEN i END)) AS INT),
                                 fp_hash := list_min(hs))]
                  ELSE list_transform(range(1, len(hs) - {w} + 2),
                    j -> struct_pack(pos := CAST(list_max(list_transform(range(j, j + {w}),
                                       i -> CASE WHEN hs[i] = list_min(hs[j : j + {w - 1}]) THEN i END)) AS INT),
                                     fp_hash := list_min(hs[j : j + {w - 1}])))
             END AS sel
      FROM g)
SELECT DISTINCT doc_id AS doc, u.pos AS pos, u.fp_hash AS fp_hash
FROM (SELECT doc_id, unnest(sel) AS u FROM s)
"""


@q(
    "winnowing_fingerprints_docs",
    f"""WITH fps AS ({_winnow_fps_sql(5, 4)})
        SELECT doc, pos, fp_hash FROM fps ORDER BY doc, pos, fp_hash""",
)
def winnowing_fingerprints_docs(spark, sf_dir):
    """Winnowing fingerprints (dedup.py:winnowing_fingerprints —
    Schleimer/Wilkerson/Aiken SIGMOD'03, the MOSS algorithm): rightmost
    minimal char-5-gram hash per window of 4, k=5/w=4 over every
    document. The LOCAL guarantee — any shared substring of >= w+k-1=8
    chars shares a fingerprint — is what MinHash bands only give
    probabilistically, and positions localize the match. Per-doc narrow
    HOF work (hash array materialized ONCE as a column, one O(w)
    aggregate per window); md5-prefix portable hash makes the DuckDB
    nested-lambda replay fingerprint-set-identical."""
    from xmlschemavalidator_spark.dedup import winnowing_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, "doc_id", k=5, window=4).orderBy(
        "doc", "pos", "fp_hash"
    )


@q(
    "winnowing_candidate_pairs",
    f"""WITH fps AS ({_winnow_fps_sql(20, 12)}),
        posts AS (SELECT DISTINCT doc, fp_hash FROM fps),
        cold AS (SELECT doc, fp_hash FROM posts
                 WHERE fp_hash NOT IN (SELECT fp_hash FROM posts
                                       GROUP BY fp_hash HAVING count(*) > 1000))
        SELECT a.doc AS id_a, b.doc AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared_fps
        FROM cold a JOIN cold b USING (fp_hash)
        WHERE a.doc < b.doc
        GROUP BY 1, 2 HAVING count(*) >= 2
        ORDER BY id_a, id_b""",
)
def winnowing_candidate_pairs_docs(spark, sf_dir):
    """Winnowing near-dup/shared-passage pairs (dedup.py:
    winnowing_candidate_pairs): inverted index on fingerprint value,
    posting cap 1000 (audit: winnowing_hot_fingerprints), ordered
    self-join inside posting lists, pairs sharing >= 2 distinct
    fingerprints. k=20/w=12 (matches of >= 31 chars guaranteed caught)
    measured to keep the pair set selective — 68 of 124,750 possible
    pairs at sf0.01; the classic MOSS k=5/w=4 over short same-genre docs
    pairs EVERYTHING (124,483 measured) and would be an all-pairs job in
    disguise at corpus scale. Never an uncapped all-pairs."""
    from xmlschemavalidator_spark.dedup import winnowing_candidate_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnowing_candidate_pairs(
        docs, "doc_id", k=20, window=12, min_shared=2, max_posting=1000
    ).orderBy("id_a", "id_b")


@q(
    "containment_pairs_docs",
    r"""WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(sl)) AS shingle, len(list_distinct(sl)) AS n_sh
  FROM (
    SELECT doc_id,
           CASE WHEN len(string_split_regex(trim(coalesce(text,'')), '\s+')) < 3 THEN []
           ELSE list_transform(
             range(1, len(string_split_regex(trim(text), '\s+')) - 1),
             i -> array_to_string(string_split_regex(trim(text), '\s+')[i:i+2], ' ')
           ) END AS sl
    FROM documents
  ) WHERE len(sl) > 0
), sizes AS (SELECT DISTINCT doc, n_sh FROM sh),
common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
), directed AS (
  SELECT id_a AS src_id, id_b AS dst_id, common * 1.0 / sa.n_sh AS c
  FROM common JOIN sizes sa ON sa.doc = id_a
  UNION ALL
  SELECT id_b, id_a, common * 1.0 / sb.n_sh
  FROM common JOIN sizes sb ON sb.doc = id_b
)
SELECT src_id, dst_id, round(c, 6) AS containment
FROM directed WHERE c >= 0.9
ORDER BY src_id, dst_id""",
)
def containment_pairs_docs(spark, sf_dir):
    """Directed shingle-containment pairs (dedup.py:containment_pairs,
    Broder 1997's second resemblance measure): |src ∩ dst| / |src| >=
    0.9 over token-3-gram shingles — the asymmetric quote/excerpt
    semantics Jaccard misses (a tweet inside an article: Jaccard ~0.02,
    containment ~1). One capped inverted-index join serves BOTH
    directions (intersection is symmetric; only the denominator
    differs). 50 directed rows at sf0.01."""
    from xmlschemavalidator_spark.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(
        docs, "doc_id", shingle_n=3, threshold=0.9, max_posting=100000
    ).orderBy("src_id", "dst_id")


@q(
    "mutual_info_lang_source",
    """WITH j AS (SELECT coalesce(CAST(lang AS VARCHAR), ' null') AS x,
                         coalesce(CAST(source AS VARCHAR), ' null') AS y,
                         count(*) AS nxy
                  FROM documents GROUP BY 1, 2),
            m AS (SELECT x, y, nxy,
                         sum(nxy) OVER (PARTITION BY x) AS nx,
                         sum(nxy) OVER (PARTITION BY y) AS ny,
                         sum(nxy) OVER () AS t
                  FROM j)
       SELECT CAST(round(sum(CAST(round(
                  (nxy / t) * ln(nxy * t / (nx * ny)), 12)
                  AS DECIMAL(20,12))), 6) AS DOUBLE) AS mi,
              CAST(sum(nxy) AS BIGINT) AS n_rows,
              CAST(count(DISTINCT x) AS BIGINT) AS n_x,
              CAST(count(DISTINCT y) AS BIGINT) AS n_y
       FROM m""",
)
def mutual_info_lang_source(spark, sf_dir):
    """Mutual information between documents.lang and documents.source
    (checks/stats.py:mutual_information): the dependence analyzer —
    "how much does lang tell you about source". Each term's argument is
    an exact rational of integer counts; 12-dp rounding before an
    order-independent DECIMAL sum keeps the last-ulp-of-ln risk out of
    the hash (the entropy contract). One corpus scan."""
    from xmlschemavalidator_spark.checks.stats import mutual_information

    docs = _t(spark, sf_dir, "documents")
    return mutual_information(docs, "lang", "source")


@q(
    "concentration_doc_source",
    """WITH c AS (SELECT coalesce(CAST(source AS VARCHAR), ' null') AS cat,
                         CAST(count(*) AS HUGEINT) AS n
                  FROM documents GROUP BY 1)
       SELECT CAST(round(CAST(sum(n * n) AS DOUBLE)
                         / (CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)),
                         6) AS DOUBLE) AS hhi,
              CAST(round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
                   AS DOUBLE) AS top_share,
              CAST(count(*) AS BIGINT) AS n_categories,
              CAST(sum(n) AS BIGINT) AS n_rows
       FROM c""",
)
def concentration_doc_source(spark, sf_dir):
    """Herfindahl-Hirschman concentration of documents.source
    (checks/stats.py:concentration): the crawl-diversity gate — HHI → 1
    means one source dominates; 1/HHI is the effective source count.
    Σn² in DECIMAL(38,0) then ONE double division — no per-term float
    sum to reorder. One partial-aggregatable count."""
    from xmlschemavalidator_spark.checks.stats import concentration

    docs = _t(spark, sf_dir, "documents")
    return concentration(docs, "source")


@q(
    "text_kneser_ney_lm",
    r"""WITH t AS (
         SELECT doc_id,
                ['<s>'] || list_transform(
                  list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
                              x -> x <> ''),
                  x -> lower(x)) AS barr
         FROM documents),
       pairs AS (
         SELECT doc_id,
                unnest(barr[1:len(barr) - 1]) AS prev,
                unnest(barr[2:len(barr)]) AS cur
         FROM t WHERE len(barr) >= 2),
       tr AS (SELECT prev, cur FROM pairs WHERE doc_id % 5 <> 0),
       bc AS (SELECT prev, cur, count(*) AS n_pc FROM tr GROUP BY 1, 2),
       ctx AS (SELECT prev, CAST(sum(n_pc) AS BIGINT) AS n_p,
                      CAST(count(*) AS BIGINT) AS n1p_fwd
               FROM bc GROUP BY 1),
       wrd AS (SELECT cur, CAST(count(*) AS BIGINT) AS n1p_bwd
               FROM bc GROUP BY 1),
       g AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
                    CAST(count(DISTINCT cur) AS BIGINT) AS v
             FROM bc),
       sc AS (
         SELECT p.doc_id,
                CAST(floor(ln(
                  CASE WHEN ctx.n_p IS NOT NULL AND ctx.n_p > 0 THEN
                    (greatest(coalesce(bc.n_pc, 0)::DOUBLE * 1000000.0 - 750000.0, 0.0)
                     + 750000.0 * ctx.n1p_fwd::DOUBLE
                       * ((coalesce(wrd.n1p_bwd, 0) + 1.0) / (g.n_types + g.v + 1.0)))
                    / (ctx.n_p::DOUBLE * 1000000.0)
                  ELSE (coalesce(wrd.n1p_bwd, 0) + 1.0) / (g.n_types + g.v + 1.0)
                  END) * 1000000) AS BIGINT) AS lp
         FROM pairs p
         LEFT JOIN bc USING (prev, cur)
         LEFT JOIN ctx USING (prev)
         LEFT JOIN wrd USING (cur)
         CROSS JOIN g),
       agg AS (
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(lp) AS BIGINT) AS logprob_micro
         FROM sc GROUP BY 1)
       SELECT d.doc_id,
              coalesce(agg.n_bigrams, 0) AS n_bigrams,
              coalesce(agg.logprob_micro, 0) AS logprob_micro,
              round(agg.logprob_micro / (agg.n_bigrams * 1000000.0), 6)
                AS avg_logprob
       FROM documents d LEFT JOIN agg USING (doc_id)""",
)
def text_kneser_ney_lm(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM (quality_model.py:
    train_kneser_ney/kn_perplexity_score — Kneser & Ney ICASSP'95, Chen
    & Goodman's interpolated form, D=0.75): trained in-query on the
    doc_id % 5 <> 0 split, every doc scored by its exact integer sum of
    floor-quantized micro-log-probs. The continuation probability
    (distinct-context counts) is what separates 'Francisco'-style
    bound words from productive ones — the add-α model upstream can't.
    Training replay AND scoring hash-exact in DuckDB; the corpus
    tokenizes once, every model table is vocab-bounded."""
    from xmlschemavalidator_spark.quality_model import (
        kn_perplexity_score,
        train_kneser_ney,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = train_kneser_ney(docs.where(F.col("doc_id") % 5 != 0), "doc_id")
    out = kn_perplexity_score(docs, lm, "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_bigrams",
        "logprob_micro",
        F.round("avg_logprob", 6).alias("avg_logprob"),
    )


from xmlschemavalidator_spark.weburl import kcore_oracle_sql  # noqa: E402


@q("link_kcore", kcore_oracle_sql(_EDGES_SQL, k=2, rounds=15))
def link_kcore(spark, sf_dir):
    """k-core extraction (weburl.py:kcore — Seidman 1983 peeling): the
    maximal subgraph of the 60-node link graph where every node keeps
    degree >= 2 after all lower-degree nodes peel away — the dense-web-
    neighborhood / link-farm-survivor extractor (CC sees connectivity,
    LPA density; the core sees RESILIENT density). 48 of 60 nodes
    survive at sf0.01, so the peel itself carries signal. Per round one
    degree count + two semi joins, lineage cut; early exit at the
    monotone fixpoint is exact, so the 15-round unrolled DuckDB replay
    (extra rounds are no-ops) hashes identically."""
    from xmlschemavalidator_spark.weburl import kcore

    return kcore(_edges(spark, sf_dir), k=2).orderBy("node")


from xmlschemavalidator_spark.textops import SPLIT_SENTENCES_SQL  # noqa: E402


@q(
    "text_sentence_rows",
    f"""WITH planted AS (
         SELECT doc_id,
                regexp_replace(coalesce(text, ''), ' a ', '. ', 'g') AS text
         FROM documents),
       s AS (SELECT doc_id AS doc,
                    {SPLIT_SENTENCES_SQL.format(x="text")} AS sents
             FROM planted)
       SELECT doc, CAST(u.i AS INT) AS sent_idx, u.v AS sentence
       FROM (SELECT doc,
                    unnest(list_transform(sents,
                           (x, i) -> struct_pack(i := i, v := x))) AS u
             FROM s)
       ORDER BY doc, sent_idx""",
)
def text_sentence_rows(spark, sf_dir):
    """Rule-based sentence segmentation (textops.py:split_sentences /
    sentence_rows — the spaCy-sentencizer default rule, engine-portable
    via a noncharacter sentinel because RE2 has no lookbehind): the
    synthetic corpus carries no punctuation, so terminators are planted
    deterministically first (' a ' → '. ' on BOTH engines) — 1,315
    sentences from 500 docs at sf0.01, terminators kept with their
    sentence, 1-based order indices. Narrow projection + one Generate;
    text never shuffles."""
    from xmlschemavalidator_spark.textops import sentence_rows

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), " a ", ". ").alias(
            "text"
        ),
    )
    return sentence_rows(docs, "doc_id").orderBy("doc", "sent_idx")


@q(
    "corpus_fixed_k_per_lang",
    """WITH keyed AS (
         SELECT doc_id, lang,
                md5('fixedk' || ':' || CAST(doc_id AS VARCHAR)) AS k
         FROM documents),
       ranked AS (
         SELECT doc_id, lang,
                row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
         FROM keyed)
       SELECT doc_id, lang FROM ranked WHERE rn <= 40
       ORDER BY lang, doc_id""",
)
def corpus_fixed_k_per_lang(spark, sf_dir):
    """Exactly-k-per-stratum deterministic sample (sampling.py:
    stratified_fixed_k — the eval-set shape; stratified_sample keeps a
    FRACTION, this promises a fixed-size artifact): 40 docs per lang
    selected by the content-addressed md5(salt:id) order, so the set is
    a pure function of (salt, id). Spark runs the two-phase SALTED
    row_number (no mega-stratum single-task sort); the oracle's single
    window is the semantic spec the salted plan must equal — which is
    exactly the superset property under test."""
    from xmlschemavalidator_spark.sampling import stratified_fixed_k

    docs = _t(spark, sf_dir, "documents")
    return (
        stratified_fixed_k(docs, "doc_id", "lang", k=40)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


from xmlschemavalidator_spark.textops import soundex_key_sql  # noqa: E402


@q(
    "soundex_blocking_vocab",
    f"""WITH v AS (SELECT DISTINCT unnest(
                     string_split_regex(trim(coalesce(text, '')), '\\s+')) AS w
                   FROM documents),
        vocab AS (SELECT w FROM v WHERE w <> ''),
        both_ AS (SELECT w FROM vocab
                  UNION ALL
                  SELECT substr(w, 1, 1) || substr(w, 2, 1) || substr(w, 2)
                  FROM vocab WHERE length(w) >= 2),
        k AS (SELECT DISTINCT w, {soundex_key_sql('w')} AS sdx FROM both_)
        SELECT a.w AS word_a, b.w AS word_b, a.sdx AS sdx
        FROM k a JOIN k b ON a.sdx = b.sdx AND a.w < b.w
        ORDER BY word_a, word_b""",
)
def soundex_blocking_vocab(spark, sf_dir):
    """Soundex phonetic blocking (textops.py:soundex_key — NARA rules
    as ONE dual-engine translate/regex chain, deliberately not the
    Spark builtin so blocking decisions are oracle-checkable): the
    corpus vocabulary plus a deterministic planted typo per word
    (second letter doubled — the synthetic vocab has no natural
    homophones, measured zero), then every same-key pair — each typo
    must land in its source word's block, which is exactly the
    ER-blocking contract (verify-inside-blocks-only at corpus scale,
    the SNM/Levenshtein machinery downstream). Narrow keying; the pair
    join runs on the vocab-sized table."""
    from xmlschemavalidator_spark.textops import soundex_key, tokens

    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    typo = vocab.where(F.length("w") >= 2).select(
        F.concat(
            F.substring("w", 1, 1), F.substring("w", 2, 1), F.substring("w", 2, 1_000_000)
        ).alias("w")
    )
    keyed = (
        vocab.unionByName(typo)
        .distinct()
        .select("w", soundex_key(F.col("w")).alias("sdx"))
        .distinct()
    )
    a = keyed.select(F.col("w").alias("word_a"), "sdx")
    b = keyed.select(F.col("w").alias("word_b"), "sdx")
    return (
        a.join(b, "sdx")
        .where(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b", "sdx")
        .orderBy("word_a", "word_b")
    )


@q(
    "edit_distance_vocab_pairs",
    r"""WITH v AS (SELECT DISTINCT unnest(
                     string_split_regex(trim(coalesce(text, '')), '\s+')) AS w
                   FROM documents),
        vocab AS (SELECT w FROM v WHERE w <> ''),
        strs AS (SELECT DISTINCT s FROM (
                   SELECT w AS s FROM vocab
                   UNION ALL
                   SELECT substr(w, 1, 1) || substr(w, 2, 1) || substr(w, 2)
                   FROM vocab WHERE length(w) >= 2)),
        base AS (SELECT s, length(s) AS len FROM strs WHERE length(s) >= 4),
        grams AS (SELECT s, len,
                         unnest(list_transform(range(1, len),
                                i -> substr(s, CAST(i AS INT), 2))) AS gram
                  FROM base),
        counts AS (SELECT s, len, gram, count(*) AS cnt
                   FROM grams GROUP BY 1, 2, 3),
        hot AS (SELECT gram FROM (SELECT gram, count(*) AS pl
                                  FROM counts GROUP BY 1) WHERE pl > 1000),
        cold AS (SELECT * FROM counts
                 WHERE gram NOT IN (SELECT gram FROM hot)),
        cand AS (SELECT a.s AS id_a, b.s AS id_b, a.len AS la, b.len AS lb,
                        sum(least(a.cnt, b.cnt)) AS common
                 FROM cold a JOIN cold b
                   ON a.gram = b.gram AND a.s < b.s
                  AND abs(a.len - b.len) <= 1
                 GROUP BY 1, 2, 3, 4
                 HAVING sum(least(a.cnt, b.cnt)) >= greatest(a.len, b.len) - 3)
        SELECT id_a, id_b, CAST(levenshtein(id_a, id_b) AS INT) AS distance
        FROM cand WHERE levenshtein(id_a, id_b) <= 1
        ORDER BY id_a, id_b""",
)
def edit_distance_vocab_pairs(spark, sf_dir):
    """q-gram count-filtered edit-distance join (dedup.py:
    edit_distance_pairs — Gravano et al. VLDB'01): the corpus
    vocabulary plus one planted distance-1 typo per word (second letter
    doubled, the soundex query's device), joined at Levenshtein <= 1
    with q=2. One edit destroys at most q grams, so the bag-count
    filter is PROVABLY lossless for strings >= q(d+1) chars (shorter
    are refused, disclosed); survivors verify with the exact DP both
    engines share. The count filter runs before any string travels."""
    from xmlschemavalidator_spark.dedup import edit_distance_pairs
    from xmlschemavalidator_spark.textops import tokens

    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    typo = vocab.where(F.length("w") >= 2).select(
        F.concat(
            F.substring("w", 1, 1),
            F.substring("w", 2, 1),
            F.substring("w", 2, 1_000_000),
        ).alias("w")
    )
    strs = vocab.unionByName(typo).distinct().select(F.col("w").alias("s"))
    return edit_distance_pairs(
        strs, "s", "s", max_distance=1, q=2, max_posting=1000
    ).orderBy("id_a", "id_b")


@q(
    "psi_drift_source",
    """WITH cur AS (SELECT source AS category,
                           CAST(count(*) AS BIGINT) AS n_cur
                    FROM documents
                    WHERE lang = 'en' AND source IS NOT NULL GROUP BY 1),
            base AS (SELECT source AS category,
                            CAST(count(*) AS BIGINT) AS n_base
                     FROM documents
                     WHERE lang <> 'en' AND source IS NOT NULL GROUP BY 1),
            j AS (SELECT coalesce(cur.category, base.category) AS category,
                         coalesce(n_cur, 0) AS n_cur,
                         coalesce(n_base, 0) AS n_base
                  FROM cur FULL OUTER JOIN base USING (category)),
            sh AS (SELECT n_cur, n_base,
                          sum(n_cur) OVER () AS tc,
                          sum(n_base) OVER () AS tb,
                          count(*) OVER () AS k
                   FROM j)
       SELECT CASE WHEN max(tc) > 0 AND max(tb) > 0 THEN
                CAST(round(sum(CAST(round(
                  ((n_cur + 1.0)/(tc + k) - (n_base + 1.0)/(tb + k))
                  * ln(((n_cur + 1.0)/(tc + k)) / ((n_base + 1.0)/(tb + k))),
                  12) AS DECIMAL(20,12))), 6) AS DOUBLE) END AS psi,
              CAST(count(*) AS BIGINT) AS n_categories,
              CAST(sum(CASE WHEN n_base = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_new_categories,
              CAST(sum(CASE WHEN n_cur = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_gone_categories
       FROM sh""",
)
def psi_drift_source(spark, sf_dir):
    """Population Stability Index (checks/drift.py:psi_drift — the
    model-monitoring standard beside chi² and KS): source distribution
    of en docs vs every other lang. Add-one on both sides over the
    union category set keeps PSI finite without an arbitrary epsilon;
    exact-rational term arguments, 12-dp rounding before the
    order-independent DECIMAL sum (the entropy contract). Runs on
    #categories rows."""
    from xmlschemavalidator_spark.checks.drift import categorical_histogram, psi_drift

    docs = _t(spark, sf_dir, "documents")
    cur = categorical_histogram(docs.where(F.col("lang") == "en"), "source")
    base = categorical_histogram(docs.where(F.col("lang") != "en"), "source")
    return psi_drift(cur, base)


@q(
    "tfidf_cosine_pairs_docs",
    r"""WITH toks AS (
         SELECT doc_id AS doc, t AS term FROM (
           SELECT doc_id,
                  unnest(string_split_regex(trim(coalesce(text, '')), '\s+')) AS t
           FROM documents) WHERE length(t) > 0),
       tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
              FROM toks GROUP BY 1, 2),
       dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       n AS (SELECT count(*) AS n FROM documents),
       w AS (SELECT doc, term,
                    CAST(tf * CAST(floor((ln((n.n + 1.0) / (df + 1.0)) + 1.0)
                                         * 1000000.0) AS BIGINT) AS HUGEINT) AS w,
                    df
             FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       cold AS (SELECT doc, term, w FROM w WHERE df <= 1000),
       norms AS (SELECT doc, sum(w * w) AS ss FROM cold GROUP BY 1),
       dots AS (SELECT a.doc AS id_a, b.doc AS id_b, sum(a.w * b.w) AS dot
                FROM cold a JOIN cold b
                  ON a.term = b.term AND a.doc < b.doc GROUP BY 1, 2)
       SELECT id_a, id_b,
              round(CAST(dot AS DOUBLE)
                    / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))),
                    5) AS cosine
       FROM dots JOIN norms na ON na.doc = id_a JOIN norms nb ON nb.doc = id_b
       WHERE round(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))),
                   5) >= 0.9
       ORDER BY id_a, id_b""",
)
def tfidf_cosine_pairs_docs(spark, sf_dir):
    """Sparse TF-IDF cosine similarity join (textops.py:
    tfidf_cosine_pairs — Bayardo et al. WWW'07's all-pairs shape, the
    lexical counterpart of embedding-cosine near-dup): pairs at cosine
    >= 0.9 (39 of ~125k possible at sf0.01 — the planted near-dups).
    Integer-micro tf·idf weights make the dot an EXACT DECIMAL sum;
    cosine is one double chain through correctly-rounded sqrt; the df
    cap excludes hot boilerplate terms from dot AND norms, so the
    statistic stays exact over the capped universe."""
    from xmlschemavalidator_spark.textops import tfidf_cosine_pairs

    docs = _t(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, "doc_id", threshold=0.9, max_posting=1000
    ).orderBy("id_a", "id_b")


# The driver's correctness gate samples the FIRST 50 entries of queries().
# Registration order is package-growth order (round 1 first), so an
# unordered export would only ever show the driver the round-1 facet/type
# operators. This curated front block is one representative per family —
# facets/types/structural → verdicts, violations and the rule-set tools
# (XSD identity constraints, migration delta, violation examples, per-rule
# rate intervals) → dataset checks → dedup (exact/line/span/LSH/b-bit/
# SemDeDup/canonical/decontam) → DSIR → lang ID → quality → tokenizers →
# URL layer → graph → retrieval → CUBE → TPC-H → statistical analyzers —
# every one chosen to return NONZERO rows at sf0.01 (verified; the three
# clean-data 0-row checks are replaced here by their planted-violation
# variants and demoted to the tail).
_FRONT_50 = (
    "facet_enumeration", "facet_range", "facet_pattern",          # §2.1
    "type_lattice", "type_union_detail",                          # §2.2/2.3
    "structural_choice", "structural_occurs",                     # §2.4
    "attr_required",                                              # §2.5
    "verdicts_wide", "violations_long", "validation_summary",     # §2.6
    "xsd_columnar_verdicts", "xsd_xml_documents",
    "xsd_identity_constraints", "ruleset_extension_verdicts",
    "ruleset_migration_delta", "violation_examples", "rule_rate_intervals",
    "column_stats", "length_histogram", "heavy_hitters_lang",     # §2.7
    "uniqueness_duplicates", "referential_orders_planted",
    "ks_drift_lang", "suggest_constraints", "incremental_revalidation",
    "dedup_exact_groups_planted", "corpus_duplicate_lines",       # §2.8/2.9 dedup
    "corpus_duplicate_spans", "minhash_lsh_pairs_portable",
    "bbit_minhash_pairs_portable", "embedding_semdedup",
    "dedup_canonical_keep", "decontamination_overlap",
    "dsir_selection_frac", "lang_model_predict",                  # §2.9 selection/LM
    "text_gopher_filters", "text_quality_model",
    "main_content_extract", "wordpiece_encode_replay",
    "url_canonicalize", "url_dedup_keep", "url_domain_cap",       # §2.10 URL
    "robots_filter_rfc_kept",
    "link_pagerank", "link_components",                           # §2.10 graph
    "text_bm25_index_topk",                                       # §2.10 retrieval
    "cube_source_lang", "join_q18_large_orders",                  # OLAP/TPC-H
    "welch_t_doc_length",                                         # stats battery
)


def _front_ordered(d: dict) -> dict:
    out = {n: d[n] for n in _FRONT_50 if n in d}
    out.update((n, v) for n, v in d.items() if n not in out)
    return out


def all_queries() -> dict[str, QueryFn]:
    assert all(n in _QUERIES for n in _FRONT_50), [
        n for n in _FRONT_50 if n not in _QUERIES]
    return _front_ordered(_QUERIES)


def all_oracles() -> dict[str, str]:
    return _front_ordered(_ORACLES)


# ===========================================================================
# contract-migration / tolerance / approximate-FD family (r4 session 7)
# ===========================================================================

def _documents_ruleset_v2() -> RuleSet:
    """The 'proposed v2' contract for the documents table: lang enum swaps
    zh→es (tightens zh docs, loosens es docs), chars_range max tightens
    4200→400 (p90 of measured n_chars — flips exist at every SF), and a
    NEW source_v2_allowed rule deprecates src16–19. Same rule vocabulary
    as flagship.documents_ruleset — the migration pair exercises modified,
    unchanged, and introduced rules."""
    from xmlschemavalidator_spark.compiler import ExprRule

    return RuleSet(
        rules=[
            FieldRule(
                "lang_enum",
                Restriction(facets=tuple(Enumeration(v) for v in ("en", "de", "sv", "fr", "es"))),
                column="lang",
            ),
            FieldRule(
                "chars_range",
                Restriction(base="integer", facets=(MinInclusive(36), MaxInclusive(400))),
                column="n_chars",
            ),
            FieldRule("source_pattern", Pattern(r"src[0-9]+"), column="source"),
            FieldRule("text_required", RequiredAttr(), column="text"),
            FieldRule(
                "nchars_consistent", ExprRule("n_chars = length(text)"), observed="n_chars"
            ),
            FieldRule("source_v2_allowed", Pattern(r"src[0-9]|src1[0-5]"), column="source"),
        ]
    )


def _migration_oracle() -> str:
    old = documents_ruleset().compile_sql()
    new = _documents_ruleset_v2().compile_sql()
    cases = []
    for rid in sorted(new):
        if rid in old:
            cond = (
                f"(NOT coalesce(({new[rid]}), FALSE)) AND coalesce(({old[rid]}), FALSE)"
            )
        else:
            cond = f"NOT coalesce(({new[rid]}), FALSE)"
        cases.append(f"CASE WHEN {cond} THEN '{rid}' END")
    ok_old = " AND ".join(f"coalesce(({s}), FALSE)" for s in old.values())
    ok_new = " AND ".join(f"coalesce(({s}), FALSE)" for s in new.values())
    # coalesce: DuckDB's array_to_string yields NULL on the empty list,
    # Spark's concat_ws yields '' — pin the '' convention on both sides
    newly = (
        "coalesce(array_to_string(list_filter(["
        + ", ".join(cases)
        + "], x -> x IS NOT NULL), ','), '')"
    )
    return f"""WITH v AS (SELECT doc_id, ({ok_old}) AS ok_old, ({ok_new}) AS ok_new,
                      {newly} AS newly_failed
               FROM documents)
       SELECT doc_id, ok_old, ok_new,
              CASE WHEN ok_old THEN 'tightened' ELSE 'loosened' END AS change,
              newly_failed
       FROM v WHERE ok_old <> ok_new"""


@q("ruleset_migration_delta", _migration_oracle())
def ruleset_migration_delta(spark, sf_dir):
    """Contract-migration impact report (engine.py:migration_delta): rows
    whose doc-level verdict flips between the deployed documents ruleset
    and a proposed v2 (modified enum + tightened range + new source
    rule), with the culprit rules per tightened row. The reference
    analogue is re-running `valid?` after `extend`-ing a schema
    (core.clj complexContent); here both versions evaluate in ONE narrow
    projection — no shuffle, no second scan. Oracle is generated from
    the SAME compile_sql renderings the facet queries pin."""
    from xmlschemavalidator_spark.engine import migration_delta

    return migration_delta(
        _t(spark, sf_dir, "documents"),
        documents_ruleset(),
        _documents_ruleset_v2(),
        key="doc_id",
    )


_MOSTLY = {
    "lang_enum": 0.9,          # measured pass rate ~0.85 → suite FAILS
    "chars_range": 0.999,      # 1.0 → ok
    "source_pattern": 0.98,    # 1.0 → ok
    "text_required": 0.95,     # 1.0 → ok
    "nchars_consistent": 0.97, # 1.0 → ok
}


def _mostly_oracle() -> str:
    sqls = documents_ruleset().compile_sql()
    parts = []
    for rid in sorted(sqls):
        m = float(_MOSTLY[rid])
        p = f"sum(CASE WHEN coalesce(({sqls[rid]}), FALSE) THEN 1 ELSE 0 END)"
        parts.append(
            f"""SELECT '{rid}' AS rule_id, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST({p} AS BIGINT) AS n_pass,
                   round({p} * 1.0 / count(*), 6) AS pass_rate,
                   CAST({m!r} AS DOUBLE) AS mostly,
                   ({p} * 1.0 / count(*)) >= {m!r} AS ok
            FROM documents"""
        )
    return " UNION ALL ".join(parts)


@q("expectations_mostly", _mostly_oracle())
def expectations_mostly(spark, sf_dir):
    """Tolerance ('mostly') suite verdicts (engine.py:
    expectation_summary): per-rule pass rate vs a declared threshold —
    the Great-Expectations `mostly=0.95` semantics layered over the
    reference's strict `valid?` fold. ONE aggregate computes all five
    rules' pass counts (map-side partials); thresholds chosen from
    measured rates so the output mixes ok=true and ok=false (lang_enum
    ~0.85 < 0.9 fails at every SF — never a trivially-all-true oracle)."""
    from xmlschemavalidator_spark.engine import expectation_summary

    return expectation_summary(
        _t(spark, sf_dir, "documents"), documents_ruleset(), mostly=_MOSTLY
    )


@q(
    "fd_g3_error",
    """WITH p1 AS (SELECT source AS k, lang AS v, count(*) AS c FROM documents GROUP BY 1, 2),
            m1 AS (SELECT k, max(c) AS mx, sum(c) AS s FROM p1 GROUP BY 1),
            a1 AS (SELECT CAST(sum(s) AS BIGINT) AS n_rows, CAST(sum(mx) AS BIGINT) AS n_keep FROM m1),
            p2 AS (SELECT doc_id AS k, lang AS v, count(*) AS c FROM documents GROUP BY 1, 2),
            m2 AS (SELECT k, max(c) AS mx, sum(c) AS s FROM p2 GROUP BY 1),
            a2 AS (SELECT CAST(sum(s) AS BIGINT) AS n_rows, CAST(sum(mx) AS BIGINT) AS n_keep FROM m2),
            p3 AS (SELECT user_id AS k, event_type AS v, count(*) AS c FROM events GROUP BY 1, 2),
            m3 AS (SELECT k, max(c) AS mx, sum(c) AS s FROM p3 GROUP BY 1),
            a3 AS (SELECT CAST(sum(s) AS BIGINT) AS n_rows, CAST(sum(mx) AS BIGINT) AS n_keep FROM m3)
       SELECT 'documents.source->lang' AS fd, n_rows, n_keep,
              round(1.0 - n_keep * 1.0 / n_rows, 6) AS g3,
              (1.0 - n_keep * 1.0 / n_rows) <= 0.05 AS holds
       FROM a1
       UNION ALL
       SELECT 'documents.doc_id->lang', n_rows, n_keep,
              round(1.0 - n_keep * 1.0 / n_rows, 6),
              (1.0 - n_keep * 1.0 / n_rows) <= 0.05
       FROM a2
       UNION ALL
       SELECT 'events.user_id->event_type', n_rows, n_keep,
              round(1.0 - n_keep * 1.0 / n_rows, 6),
              (1.0 - n_keep * 1.0 / n_rows) <= 0.05
       FROM a3""",
)
def fd_g3_error(spark, sf_dir):
    """Approximate-FD g3 error (checks/fd.py:fd_g3, Kivinen–Mannila):
    minimum delete-fraction for the FD to hold exactly — the trendable
    "how broken is url→domain today" profiler number. Three candidate
    FDs: an exact one (doc_id→lang, g3=0 → holds) and two heavily
    violated ones (source→lang ~0.56, user_id→event_type ~0.74), so the
    holds flag is a measured mix. Each FD is the standard two-level
    partial-aggregatable shape — no countDistinct over raw rows."""
    from xmlschemavalidator_spark.checks.fd import fd_g3

    docs = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events")
    out = (
        fd_g3(docs, ["source"], "lang", name="documents.source->lang")
        .unionByName(fd_g3(docs, ["doc_id"], "lang", name="documents.doc_id->lang"))
        .unionByName(
            fd_g3(ev, ["user_id"], "event_type", name="events.user_id->event_type")
        )
    )
    return out.withColumn(
        "holds",
        (F.lit(1.0) - F.col("n_keep") * F.lit(1.0) / F.col("n_rows")) <= F.lit(0.05),
    )


def _segment_expectation_oracle() -> str:
    sqls = documents_ruleset().compile_sql()
    parts = []
    for rid in sorted(sqls):
        m = float(_MOSTLY[rid])
        p = f"sum(CASE WHEN coalesce(({sqls[rid]}), FALSE) THEN 1 ELSE 0 END)"
        parts.append(
            f"""SELECT lang, '{rid}' AS rule_id, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST({p} AS BIGINT) AS n_pass,
                   round({p} * 1.0 / count(*), 6) AS pass_rate,
                   CAST({m!r} AS DOUBLE) AS mostly,
                   ({p} * 1.0 / count(*)) >= {m!r} AS ok
            FROM documents GROUP BY lang"""
        )
    return " UNION ALL ".join(parts)


@q("expectations_by_segment", _segment_expectation_oracle())
def expectations_by_segment(spark, sf_dir):
    """Per-segment tolerance verdicts (engine.py:expectation_summary
    ``by=['lang']``) — the Deequ/GE drill-down "which slice is broken":
    a corpus-level pass rate of 0.97 can hide a segment at 0.2 (exactly
    what a new crawl source or a bad extractor regression looks like).
    Same ONE-aggregate shape as expectations_mostly with lang as the
    grouping key: #langs × #rules counter rows reach the shuffle, never
    documents. Thresholds (_MOSTLY) produce a measured ok=true/false mix
    that differs BY SEGMENT for lang_enum (en/de/sv/fr pass 1.0, zh 0)."""
    from xmlschemavalidator_spark.engine import expectation_summary

    return expectation_summary(
        _t(spark, sf_dir, "documents"),
        documents_ruleset(),
        mostly=_MOSTLY,
        by=["lang"],
    )


def _cooccurrence_oracle() -> str:
    sqls = _documents_ruleset_v2().compile_sql()
    rids = sorted(sqls)
    sums = ", ".join(
        f"CAST(sum(CASE WHEN NOT coalesce(({sqls[r]}), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS f_{i}"
        for i, r in enumerate(rids)
    )
    boths = ", ".join(
        f"CAST(sum(CASE WHEN NOT coalesce(({sqls[rids[i]]}), FALSE) "
        f"AND NOT coalesce(({sqls[rids[j]]}), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS b_{i}_{j}"
        for i in range(len(rids))
        for j in range(i + 1, len(rids))
    )
    pair_sel = " UNION ALL ".join(
        f"""SELECT '{rids[i]}' AS rule_a, '{rids[j]}' AS rule_b, n_rows,
               f_{i} AS n_fail_a, f_{j} AS n_fail_b, b_{i}_{j} AS n_both,
               CASE WHEN f_{i} * f_{j} > 0
                    THEN round(CAST(b_{i}_{j} AS DOUBLE) * n_rows / (f_{i} * f_{j}), 6) END AS lift,
               CASE WHEN f_{i} + f_{j} - b_{i}_{j} > 0
                    THEN round(CAST(b_{i}_{j} AS DOUBLE) / (f_{i} + f_{j} - b_{i}_{j}), 6) END AS jaccard
        FROM a"""
        for i in range(len(rids))
        for j in range(i + 1, len(rids))
    )
    return f"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, {sums}, {boths}
               FROM documents)
       {pair_sel}"""


@q("rule_failure_cooccurrence", _cooccurrence_oracle())
def rule_failure_cooccurrence(spark, sf_dir):
    """Pairwise rule-failure association (engine.py:rule_cooccurrence)
    over the v2 contract, whose three independently-failing rules
    (lang_enum zh-swap ~15%, chars_range ≤400 ~35%, source_v2_allowed
    deprecating src16-19 ~20%) give every pair a nonzero n_both and a
    measured lift ≈1 (independent synthetics), while pairs involving the
    never-failing rules exercise the NULL-association path — the output
    mixes real numbers and NULLs at every SF. ONE aggregate: 6+15 longs
    per partition reach the shuffle."""
    from xmlschemavalidator_spark.engine import rule_cooccurrence

    return rule_cooccurrence(_t(spark, sf_dir, "documents"), _documents_ruleset_v2())


def _grouped_split_oracle() -> str:
    from xmlschemavalidator_spark.sampling import assign_split_sql

    return (
        f"SELECT doc_id, {assign_split_sql('source', _SPLIT_W)} AS split "
        "FROM documents"
    )


@q("corpus_grouped_split", _grouped_split_oracle())
def corpus_grouped_split(spark, sf_dir):
    """Group-aware train/val/test assignment (sampling.assign_split
    with group_col): the key hashes the SOURCE, so every doc of a
    source lands in the same split — the leakage guard that keeps
    near-duplicate pages of one site out of train AND test at once.
    Still a narrow zero-shuffle projection (no group table, no join)."""
    from xmlschemavalidator_spark.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    return assign_split(docs, "doc_id", _SPLIT_W, group_col="source").select(
        "doc_id", "split"
    )


def _leakage_audit_oracle() -> str:
    from xmlschemavalidator_spark.sampling import assign_split_sql

    by_group = assign_split_sql("source", _SPLIT_W)
    by_doc = assign_split_sql("doc_id", _SPLIT_W)
    body = """SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_groups,
       CAST(max(ns) AS BIGINT) AS max_splits_per_group"""
    return f"""\
SELECT 'by_group' AS mode, * FROM (
  {body}
  FROM (SELECT source, count(DISTINCT split) AS ns FROM
        (SELECT source, {by_group} AS split FROM documents) GROUP BY source))
UNION ALL
SELECT 'by_doc' AS mode, * FROM (
  {body}
  FROM (SELECT source, count(DISTINCT split) AS ns FROM
        (SELECT source, {by_doc} AS split FROM documents) GROUP BY source))"""


@q("split_leakage_audit", _leakage_audit_oracle())
def split_leakage_audit_q(spark, sf_dir):
    """The audit a group-aware split exists to pass
    (sampling.split_leakage_audit), exercised in BOTH directions so the
    statistic carries signal: the source-keyed split shows 0 leaky
    groups by construction, the doc-keyed split of the same grouped
    corpus shows a MEASURED near-total leak (every multi-doc source
    spans splits at 80/10/10). One (group, split) collapse + a
    #groups-row aggregate per mode."""
    from xmlschemavalidator_spark.sampling import assign_split, split_leakage_audit

    docs = _t(spark, sf_dir, "documents")
    grouped = split_leakage_audit(
        assign_split(docs, "doc_id", _SPLIT_W, group_col="source"), "source"
    ).select(F.lit("by_group").alias("mode"), "*")
    per_doc = split_leakage_audit(
        assign_split(docs, "doc_id", _SPLIT_W), "source"
    ).select(F.lit("by_doc").alias("mode"), "*")
    return grouped.unionByName(per_doc)


_ASSORT_EDGES_SQL = (
    "SELECT doc_id % 75 AS src, (doc_id * doc_id) % 40 AS dst "
    "FROM documents WHERE doc_id % 75 <> (doc_id * doc_id) % 40"
)

from xmlschemavalidator_spark.weburl import degree_assortativity_oracle_sql  # noqa: E402


@q("link_degree_assortativity", degree_assortativity_oracle_sql(_ASSORT_EDGES_SQL))
def link_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman PRL'02; weburl.degree_assortativity)
    over a deliberately degree-SKEWED planted graph (squares mod 40
    concentrate in-links on quadratic residues while src spreads over 75
    nodes — the ring/functional plants used by pagerank/triangles are
    degree-regular and would return the NULL-variance branch): a
    measured nonzero r, exercising the DECIMAL moment sums and the
    symmetrize-dedup-selfloop path. The one-number link-farm drift
    companion to outlink_signals."""
    from xmlschemavalidator_spark.weburl import degree_assortativity

    docs = _t(spark, sf_dir, "documents")
    sq = (F.col("doc_id") * F.col("doc_id")) % 40
    edges = docs.select(
        (F.col("doc_id") % 75).alias("src"), sq.alias("dst")
    ).where(F.col("src") != F.col("dst"))
    return degree_assortativity(edges)


# ===========================================================================
# privacy audits — k-anonymity / l-diversity (checks/privacy.py)
# ===========================================================================

_K_ANON = 5  # measured at sf0.01: 55 of 97 (lang, source) classes violate


@q(
    "privacy_k_anonymity",
    f"""SELECT lang, source, CAST(count(*) AS BIGINT) AS class_size
       FROM documents GROUP BY lang, source HAVING count(*) < {_K_ANON}""",
)
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity equivalence-class audit (Sweeney 2002;
    checks/privacy.py:k_anonymity_violations) with quasi-identifiers
    (lang, source) at k=5 — a MEASURED mixed verdict (55 of 97 classes
    violate at sf0.01, 51/99 at sf0.001), so both branches of the HAVING
    carry weight. ONE partial-aggregatable groupBy; the shuffle carries
    (lang, source, partial count), never rows."""
    from xmlschemavalidator_spark.checks.privacy import k_anonymity_violations

    return k_anonymity_violations(
        _t(spark, sf_dir, "documents"), ["lang", "source"], k=_K_ANON
    )


@q(
    "privacy_k_anonymity_summary",
    f"""WITH c AS (SELECT count(*) AS cs FROM documents GROUP BY lang, source)
       SELECT CAST(sum(cs) AS BIGINT) AS n_rows,
              CAST(count(*) AS BIGINT) AS n_classes,
              CAST(min(cs) AS BIGINT) AS min_class_size,
              CAST(sum(CASE WHEN cs < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
                AS n_violating_classes,
              CAST(sum(CASE WHEN cs < {_K_ANON} THEN cs ELSE 0 END) AS BIGINT)
                AS n_rows_at_risk,
              min(cs) >= {_K_ANON} AS k_anonymous
       FROM c""",
)
def privacy_k_anonymity_summary(spark, sf_dir):
    """One-row k-anonymity release gate (checks/privacy.py:
    k_anonymity_summary): the k the table actually achieves
    (min_class_size) plus the suppression cost of enforcing k=5
    (n_rows_at_risk). Same single groupBy re-aggregated to one row."""
    from xmlschemavalidator_spark.checks.privacy import k_anonymity_summary

    return k_anonymity_summary(
        _t(spark, sf_dir, "documents"), ["lang", "source"], k=_K_ANON
    )


_L_DIV = 5  # measured: 3 of 20 source classes hold <5 distinct langs at sf0.01


@q(
    "privacy_l_diversity",
    f"""WITH pv AS (SELECT source, lang, count(*) AS n
                   FROM documents GROUP BY source, lang)
       SELECT source, CAST(sum(n) AS BIGINT) AS class_size,
              CAST(count(*) AS BIGINT) AS n_distinct_sensitive
       FROM pv GROUP BY source HAVING count(*) < {_L_DIV}""",
)
def privacy_l_diversity(spark, sf_dir):
    """Distinct l-diversity audit (Machanavajjhala et al. ICDE'06;
    checks/privacy.py:l_diversity_violations): quasi-identifier source,
    sensitive value lang, l=5 — a MEASURED mixed verdict (3 of 20
    classes violate at sf0.01, 1/20 at sf0.001). TWO stacked
    partial-aggregatable groupBys (the checks/fd.py fan-out device) —
    deliberately no countDistinct, whose mixed-agg plan is an Expand
    over the corpus."""
    from xmlschemavalidator_spark.checks.privacy import l_diversity_violations

    return l_diversity_violations(
        _t(spark, sf_dir, "documents"), ["source"], "lang", l=_L_DIV
    )


from xmlschemavalidator_spark.weburl import local_clustering_oracle_sql  # noqa: E402


@q("link_local_clustering", local_clustering_oracle_sql(_TRI_EDGES_SQL))
def link_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficient (Watts & Strogatz 1998;
    weburl.py:local_clustering) over the ring-with-chords plant —
    2·tri·10⁶ div (deg·(deg−1)) in BIGINT, no doubles. The plant's
    mixed gaps give a MEASURED spread (nodes at 10⁶, partial values,
    and zeros) plus the full-graph node roster the triangle query
    alone omits (triangle-free and degree-1 nodes appear here)."""
    from xmlschemavalidator_spark.weburl import local_clustering

    docs = _t(spark, sf_dir, "documents")
    gap = 1 + ((F.col("doc_id") - F.col("doc_id") % 60) / 60).cast("long") % 3
    edges = docs.select(
        (F.col("doc_id") % 60).alias("src"),
        ((F.col("doc_id") % 60 + gap) % 60).alias("dst"),
    )
    return local_clustering(edges)


_SB_A = 400_000 / 1_000_000.0
_SB_A2 = _SB_A * _SB_A  # Python-computed, injected verbatim into BOTH engines


@q(
    "text_stupid_backoff_lm",
    rf"""WITH t AS (
         SELECT doc_id,
                ['<s>', '<s>'] || list_transform(
                  list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\s+'),
                              x -> x <> ''),
                  x -> lower(x)) AS arr
         FROM documents),
       tri AS (
         SELECT doc_id,
                unnest(arr[1:len(arr) - 2]) AS w1,
                unnest(arr[2:len(arr) - 1]) AS w2,
                unnest(arr[3:len(arr)]) AS w3
         FROM t WHERE len(arr) >= 3),
       tr AS (SELECT w1, w2, w3 FROM tri WHERE doc_id % 5 <> 0),
       tc AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n3 FROM tr GROUP BY 1, 2, 3),
       ctx2 AS (SELECT w1, w2, CAST(sum(n3) AS BIGINT) AS n12 FROM tc GROUP BY 1, 2),
       bc AS (SELECT w2, w3, CAST(sum(n3) AS BIGINT) AS n23 FROM tc GROUP BY 1, 2),
       ctx1 AS (SELECT w2, CAST(sum(n23) AS BIGINT) AS n2 FROM bc GROUP BY 1),
       uni AS (SELECT w3, CAST(sum(n23) AS BIGINT) AS n1 FROM bc GROUP BY 1),
       g AS (SELECT CAST(count(*) AS BIGINT) AS v,
                    CAST(sum(n1) AS BIGINT) AS n FROM uni),
       sc AS (
         SELECT tri.doc_id, CAST(floor(ln(
           CASE WHEN tc.n3 IS NOT NULL THEN tc.n3::DOUBLE / ctx2.n12::DOUBLE
                WHEN bc.n23 IS NOT NULL
                  THEN {_SB_A!r} * (bc.n23::DOUBLE / ctx1.n2::DOUBLE)
                ELSE {_SB_A2!r} * ((coalesce(uni.n1, 0) + 1.0) / (g.n + g.v))
           END) * 1000000) AS BIGINT) AS lp
         FROM tri
         LEFT JOIN tc USING (w1, w2, w3)
         LEFT JOIN ctx2 USING (w1, w2)
         LEFT JOIN bc USING (w2, w3)
         LEFT JOIN ctx1 USING (w2)
         LEFT JOIN uni USING (w3)
         CROSS JOIN g),
       agg AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                CAST(sum(lp) AS BIGINT) AS logscore_micro
         FROM sc GROUP BY 1)
       SELECT d.doc_id,
              coalesce(agg.n_trigrams, 0) AS n_trigrams,
              coalesce(agg.logscore_micro, 0) AS logscore_micro,
              round(agg.logscore_micro / (agg.n_trigrams * 1000000.0), 6)
                AS avg_logscore
       FROM documents d LEFT JOIN agg USING (doc_id)""",
)
def text_stupid_backoff_lm(spark, sf_dir):
    """Stupid Backoff trigram LM (Brants et al. EMNLP'07 §4 —
    quality_model.py:train_stupid_backoff/sb_logprob_score), trained
    in-query on the doc_id % 5 <> 0 split, every doc scored. The
    web-scale LM by construction: relative frequencies + fixed α=0.4
    backoff need only count tables, all derived from ONE trigram
    groupBy by further partial aggs — the reason Google used it at 2e12
    tokens where KN's discounting needs global passes. Training replay
    AND scoring hash-exact in DuckDB; α/α² are Python-computed doubles
    injected verbatim into both engines."""
    from xmlschemavalidator_spark.quality_model import (
        sb_logprob_score,
        train_stupid_backoff,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = train_stupid_backoff(docs.where(F.col("doc_id") % 5 != 0), "doc_id")
    out = sb_logprob_score(docs, lm, "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_trigrams",
        "logscore_micro",
        F.round("avg_logscore", 6).alias("avg_logscore"),
    )


def _warc_stats_fixture() -> list[dict]:
    """Deterministic fake-crawl rows (pure function of i — no sf
    dependence), shared by the Spark query and the literal oracle."""
    statuses = [200, 200, 200, 404, 301]
    ctypes = ["text/html; charset=UTF-8", "text/html", "text/plain"]
    return [
        {
            "url": f"http://w.example/p{i}",
            "warc_ts": "2024-05-01T00:00:00Z",
            "html": b"x" * (10 + i),
            "status": statuses[i % 5],
            "content_type": ctypes[i % 3],
        }
        for i in range(30)
    ]


def _warc_stats_oracle() -> str:
    agg: dict = {}
    for r in _warc_stats_fixture():
        mime = r["content_type"].split(";")[0].strip().lower()
        k = (r["status"], mime)
        n, s = agg.get(k, (0, 0))
        agg[k] = (n + 1, s + len(r["html"]))
    rows = ", ".join(
        f"({st}, '{mime}', {n}, {s})" for (st, mime), (n, s) in sorted(agg.items())
    )
    return (
        "SELECT CAST(http_status AS INTEGER) AS http_status, mime, "
        "CAST(n AS BIGINT) AS n, CAST(b AS BIGINT) AS total_payload_bytes "
        f"FROM (VALUES {rows}) AS t(http_status, mime, n, b)"
    )


@q("warc_response_triage", _warc_stats_oracle())
def warc_response_triage(spark, sf_dir):
    """Status × MIME crawl-triage table (sources/warc.py:
    read_warc_response_meta + warc_response_stats): the first question
    asked of any Common-Crawl slice — how much is 200 text/html? The
    reader ships envelope METADATA only (no page bytes in the plan);
    the stats are one bounded groupBy. Exercises status-line parsing,
    charset-parameter stripping and gz members end-to-end over a
    spec-shaped fake archive pair; the oracle is the literal expected
    aggregate (the fixture is a pure function of i, computed once and
    consumed by both sides)."""
    import tempfile

    from xmlschemavalidator_spark.sources.warc import (
        read_warc_response_meta,
        warc_response_stats,
        write_fake_warc,
    )

    rows = _warc_stats_fixture()
    tmp = tempfile.mkdtemp(prefix="warcq_")
    write_fake_warc(f"{tmp}/a.warc", rows[:15])
    write_fake_warc(f"{tmp}/b.warc.gz", rows[15:], gz=True)
    return warc_response_stats(read_warc_response_meta(spark, tmp))


from xmlschemavalidator_spark.weburl import ktruss_oracle_sql  # noqa: E402

_KTRUSS_EDGES_SQL = (
    _TRI_EDGES_SQL
    + " UNION ALL SELECT 100 + doc_id % 12 AS src, 101 + doc_id % 12 AS dst"
    " FROM documents"
    " UNION ALL SELECT 100 + doc_id % 12 AS src, 102 + doc_id % 12 AS dst"
    " FROM documents"
)


@q("link_ktruss", ktruss_oracle_sql(_KTRUSS_EDGES_SQL, k=4, rounds=6))
def link_ktruss(spark, sf_dir):
    """4-truss extraction (Cohen 2008; weburl.py:ktruss): the
    ring-with-chords core (every edge in ≥2 surviving triangles —
    survivor supports measured {2,3,4}) plus a planted triangle-ladder
    appendix whose chord edges sit in exactly ONE triangle each, so the
    whole appendix peels over multiple rounds (24 edges dropped — the
    star/ladder structure a k-CORE would keep on degree alone). Edge
    peeling reuses the compact-forward triangle enumeration per round,
    lineage cut per round; oracle is the fixed-unroll replay (no-op
    rounds at the fixpoint hash identically)."""
    from xmlschemavalidator_spark.weburl import ktruss

    docs = _t(spark, sf_dir, "documents")
    gap = 1 + ((F.col("doc_id") - F.col("doc_id") % 60) / 60).cast("long") % 3
    ring = docs.select(
        (F.col("doc_id") % 60).alias("src"),
        ((F.col("doc_id") % 60 + gap) % 60).alias("dst"),
    )
    ladder = docs.select(
        (100 + F.col("doc_id") % 12).alias("src"),
        (101 + F.col("doc_id") % 12).alias("dst"),
    ).unionByName(
        docs.select(
            (100 + F.col("doc_id") % 12).alias("src"),
            (102 + F.col("doc_id") % 12).alias("dst"),
        )
    )
    return ktruss(ring.unionByName(ladder), k=4)


from xmlschemavalidator_spark.weburl import (  # noqa: E402
    robots_sitemap_urls_sql,
    sitemap_entries_sql,
)

_SM_XML_DUCK = (
    "'<urlset><url><loc> https://s' || CAST(doc_id % 97 AS VARCHAR)"
    " || '.example/p' || CAST(doc_id AS VARCHAR) || ' </loc><lastmod>2024-01-'"
    " || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')"
    " || '</lastmod></url><url><loc>https://s' || CAST(doc_id % 97 AS VARCHAR)"
    " || '.example/q' || CAST(doc_id AS VARCHAR) || '</loc></url>'"
    " || CASE WHEN doc_id % 4 = 0 THEN '<sitemap><loc>https://s'"
    "   || CAST(doc_id % 97 AS VARCHAR) || '.example/more'"
    "   || CAST(doc_id AS VARCHAR) || '.xml</loc></sitemap>' ELSE '' END"
    " || '</urlset>'"
)


@q(
    "sitemap_url_entries",
    f"""WITH t AS (SELECT doc_id, {_SM_XML_DUCK} AS xml FROM documents)
       SELECT doc_id, e.loc, e.lastmod, e.is_index
       FROM (SELECT doc_id, unnest({sitemap_entries_sql('xml')}) AS e FROM t)""",
)
def sitemap_url_entries(spark, sf_dir):
    """Sitemap XML → URL frontier rows (sitemaps.org protocol;
    weburl.py:sitemap_entries): per doc a planted urlset with two page
    entries (one lastmod'd, one not — the NULL path carries weight) and
    a <sitemap> index entry on every 4th doc (the fetch-next-sitemaps
    path). One narrow projection + one Generate, no shuffle, no XML
    parser dependency — the (?is) lazy-block regex is shared verbatim
    with the DuckDB oracle, whitespace inside <loc> trimmed per spec."""
    from xmlschemavalidator_spark.weburl import sitemap_entries

    docs = _t(spark, sf_dir, "documents")
    sid = (F.col("doc_id") % 97).cast("string")
    did = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit("<urlset><url><loc> https://s"), sid, F.lit(".example/p"), did,
        F.lit(" </loc><lastmod>2024-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod></url><url><loc>https://s"), sid,
        F.lit(".example/q"), did, F.lit("</loc></url>"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("<sitemap><loc>https://s"), sid, F.lit(".example/more"),
                did, F.lit(".xml</loc></sitemap>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    return sitemap_entries(docs.select("doc_id", xml.alias("xml")), "xml").select(
        "doc_id", "loc", "lastmod", "is_index"
    )


_ROBOTS_TXT_DUCK = (
    "'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)"
    " || CASE WHEN doc_id % 3 = 0 THEN 'Sitemap: https://r'"
    "   || CAST(doc_id % 50 AS VARCHAR) || '.example/sm.xml  ' || chr(10)"
    "   ELSE '' END"
    " || CASE WHEN doc_id % 6 = 0 THEN 'sitemap:https://r'"
    "   || CAST(doc_id % 50 AS VARCHAR) || '.example/sm2.xml' || chr(10)"
    "   ELSE '' END"
)


@q(
    "robots_sitemap_discovery",
    f"""WITH t AS (SELECT doc_id, {_ROBOTS_TXT_DUCK} AS robots FROM documents)
       SELECT doc_id, unnest({robots_sitemap_urls_sql('robots')}) AS sitemap_url
       FROM t""",
)
def robots_sitemap_discovery(spark, sf_dir):
    """`Sitemap:` directive discovery in robots.txt (weburl.py:
    robots_sitemap_urls) — the crawl-frontier seed that pairs with the
    Disallow parsing the robots stage already does. Planted robots
    bodies mix cased directives, trailing spaces and 0/1/2 declarations
    per host, so the multiline (?im) anchor, per-entry trim and
    empty-filter all carry weight. Narrow projection + Generate."""
    from xmlschemavalidator_spark.weburl import robots_sitemap_urls

    docs = _t(spark, sf_dir, "documents")
    rid = (F.col("doc_id") % 50).cast("string")
    robots = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("Sitemap: https://r"), rid, F.lit(".example/sm.xml  \n")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.lit("sitemap:https://r"), rid, F.lit(".example/sm2.xml\n")),
        ).otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id",
        F.explode(robots_sitemap_urls(robots)).alias("sitemap_url"),
    )


@q(
    "trigram_substring_search",
    """SELECT doc_id, lang FROM documents
       WHERE text IS NOT NULL AND text LIKE '%merge batch%'""",
)
def trigram_substring_search_q(spark, sf_dir):
    """Trigram-index substring search (the pg_trgm device;
    textindex.py:trigram_postings/substring_search): LIKE '%q%' is
    a by-construction full scan — character trigrams give a LOSSLESS
    candidate set (containing q ⇒ containing every trigram of q, the
    prefix-filter family's logic), and only candidates pay the exact
    contains() verify. The oracle is the PLAIN LIKE scan, so
    hash-equality proves losslessness end-to-end; 28 matches measured
    at sf0.01 for 'merge batch'."""
    from xmlschemavalidator_spark.textindex import substring_search

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return substring_search(docs, "doc_id", "text", "merge batch").select(
        "doc_id", "lang"
    )


@q(
    "theil_sen_daily_events",
    """WITH daily AS (SELECT event_type,
                             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                                  AS BIGINT) AS day,
                             CAST(count(*) AS BIGINT) AS n_events
                      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
       b AS (SELECT event_type, day AS id,
                    CAST(floor(CAST(day AS DOUBLE) * 1000000) AS DECIMAL(38,0)) AS x,
                    CAST(floor(CAST(n_events AS DOUBLE) * 1000000) AS DECIMAL(38,0)) AS y
             FROM daily),
       p AS (SELECT a.event_type, a.id AS ia, c.id AS ib,
                    CAST(c.y - a.y AS DOUBLE) / CAST(c.x - a.x AS DOUBLE) AS s
             FROM b a JOIN b c ON a.event_type = c.event_type AND a.x < c.x),
       sm AS (SELECT event_type, s AS slope, np AS n_pairs FROM (
                SELECT *, row_number() OVER (PARTITION BY event_type
                           ORDER BY s, ia, ib) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS np
                FROM p) WHERE rn = (np + 1) // 2),
       r AS (SELECT b.event_type, b.id, sm.slope, sm.n_pairs,
                    (CAST(b.y AS DOUBLE) - sm.slope * CAST(b.x AS DOUBLE))
                      / 1000000.0 AS res
             FROM b JOIN sm USING (event_type)),
       im AS (SELECT event_type, CAST(n AS BIGINT) AS n,
                     CAST(n_pairs AS BIGINT) AS n_pairs,
                     round(slope, 6) AS slope, round(res, 6) AS intercept
              FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                              ORDER BY res, id) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS n
                    FROM r) WHERE rn = (n + 1) // 2)
       SELECT * FROM im""",
)
def theil_sen_daily_events(spark, sf_dir):
    """Theil–Sen robust trend (checks/stats.py:theil_sen_trend) over
    per-type daily event counts — the 29.3%-breakdown companion to
    ols_trend_daily_events on the SAME series, immune to the single
    wild bucket that drags a least-squares slope. Pairwise slopes are
    one double division of exact quantized integers each; both medians
    are rank-selected LOWER medians over deterministic total orders
    (actual elements, never interpolated) — the Hampel exactness
    scheme. O(days²) pairs per group by the bounded-series contract."""
    from xmlschemavalidator_spark.checks.stats import theil_sen_trend

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return theil_sen_trend(daily, "day", "n_events", "day", ("event_type",))


def _bbit_minhash_oracle() -> str:
    """DuckDB replay of the 1-bit/64-lane MinHash pipeline in portable
    mode: same shingles + md5 base hash + permutations as
    _minhash_portable_oracle but 64 lanes, parity-packed into a signed
    BIGINT via HUGEINT arithmetic (DuckDB's << overflows at bit 63; the
    Σ parity·2^i / wrap-above-2^63 construction lands on the same
    signed value as Spark's shiftleft/OR fold). Chunk buckets are the
    arithmetic form (sigh // 2^(4ci)) % 16 — identical to Spark's
    sign-extending shiftright + mask."""
    from xmlschemavalidator_spark.dedup import _MINHASH_P, _perm_consts
    from xmlschemavalidator_spark.textops import PORTABLE_HASH64_SQL

    bh = PORTABLE_HASH64_SQL.format(x="shingle")
    p = _MINHASH_P
    mh_cols = ",\n         ".join(
        f"min((h * {a} + {b}) % {p}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_consts(64))
    )
    packed = " + ".join(f"(mh_{i} % 2)::HUGEINT * {1 << i}::HUGEINT" for i in range(64))
    chunks = "\n  UNION ALL ".join(
        f"SELECT doc, sig, {ci} AS ci, "
        f"CAST((sigh // {1 << (4 * ci)}::HUGEINT) % 16 AS BIGINT) AS cv FROM sig"
        for ci in range(16)
    )
    return f"""
WITH sh AS (
  SELECT doc_id AS doc, unnest(list_distinct(sl)) AS shingle
  FROM (
    SELECT doc_id,
           CASE WHEN len(string_split_regex(trim(coalesce(text,'')), '\\s+')) < 3 THEN []
           ELSE list_transform(
             range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
             i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')
           ) END AS sl
    FROM documents
  ) WHERE len(sl) > 0
), hashed AS (
  SELECT doc, {bh} % {p} AS h FROM sh
), lanes AS (
  SELECT doc,
         {mh_cols}
  FROM hashed GROUP BY doc
), sig AS (
  SELECT doc, sigh,
         CAST(CASE WHEN sigh >= 9223372036854775808::HUGEINT
              THEN sigh - 18446744073709551616::HUGEINT ELSE sigh END AS BIGINT) AS sig
  FROM (SELECT doc, {packed} AS sigh FROM lanes)
), chunks AS (
  {chunks}
), ok AS (
  SELECT ci, cv FROM chunks GROUP BY 1, 2
  HAVING count(*) > 1 AND count(*) <= 1000
), cand AS (
  SELECT DISTINCT a.doc AS id_a, a.sig AS sig_a, b.doc AS id_b, b.sig AS sig_b
  FROM chunks a
  JOIN chunks b USING (ci, cv)
  JOIN ok USING (ci, cv)
  WHERE a.doc < b.doc
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming,
       CAST(greatest(0, 64 - 2 * bit_count(xor(sig_a, sig_b))) * 15625 AS BIGINT)
         AS est_jaccard_micro
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 15"""


@q("bbit_minhash_pairs_portable", _bbit_minhash_oracle())
def bbit_minhash_pairs_portable(spark, sf_dir):
    """b-bit MinHash near-dup pairs (Li & König WWW'10, b=1/k=64 —
    dedup.py:bbit_jaccard_pairs) in portable-hash mode: 64 MinHash lane
    PARITIES packed into one BIGINT (8 bytes/doc vs 256 for the full
    signature), paired through the generic Hamming chunk layer, Ĵ =
    1 − 2·hd/64 in exact integer micros. The DuckDB oracle replays
    everything including the bit packing (HUGEINT arithmetic standing
    in for the sign-overflowing shift) — hash-exact pair set, distances
    AND estimates."""
    from xmlschemavalidator_spark.dedup import bbit_jaccard_pairs

    return bbit_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", portable=True
    ).select(
        "id_a",
        "id_b",
        F.col("hamming").cast("int").alias("hamming"),
        "est_jaccard_micro",
    )


from xmlschemavalidator_spark.textops import (  # noqa: E402
    extract_jsonld_sql,
    html_table_rows_sql,
)

_HARVEST_HTML_DUCK = (
    "'<h1>doc</h1><table><tr><th>k &amp; id</th><th>lang</th></tr>'"
    " || '<tr><td> v' || CAST(doc_id AS VARCHAR) || ' </td><td>'"
    " || coalesce(lang, '') || '</td></tr></table>'"
    " || CASE WHEN doc_id % 3 = 0 THEN"
    " '<script type=\"application/ld+json\"> {\"@type\": \"Article\", \"id\": '"
    " || CAST(doc_id AS VARCHAR) || '} </script>' ELSE '' END"
)


def _harvest_html_spark():
    return F.concat(
        F.lit("<h1>doc</h1><table><tr><th>k &amp; id</th><th>lang</th></tr>"),
        F.lit("<tr><td> v"),
        F.col("doc_id").cast("string"),
        F.lit(" </td><td>"),
        F.coalesce(F.col("lang"), F.lit("")),
        F.lit("</td></tr></table>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<script type="application/ld+json"> {"@type": "Article", "id": '),
                F.col("doc_id").cast("string"),
                F.lit("} </script>"),
            ),
        ).otherwise(F.lit("")),
    )


@q(
    "html_table_harvest",
    f"""WITH t AS (SELECT doc_id, {_HARVEST_HTML_DUCK} AS html FROM documents)
       SELECT doc_id, e.table_idx, e.row_idx, e.cells
       FROM (SELECT doc_id, unnest({html_table_rows_sql('html')}) AS e FROM t)
       WHERE len(e.cells) > 0""",
)
def html_table_harvest(spark, sf_dir):
    """<table> grid harvest (textops.html_table_rows): planted per-doc
    tables with header + data rows, an HTML entity in a header cell and
    padding whitespace in a data cell — so the shared entity-decode and
    whitespace-collapse pipeline carries weight in the hash. Nested
    lazy-block regexes (tables → rows → cells) shared verbatim with
    the oracle; map-only (one projection + one Generate)."""
    from xmlschemavalidator_spark.textops import html_table_rows

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select("doc_id", "lang", _harvest_html_spark().alias("html"))
    return html_table_rows(pages, "doc_id", "html")


@q(
    "jsonld_harvest",
    f"""WITH t AS (SELECT doc_id, {_HARVEST_HTML_DUCK} AS html FROM documents),
       j AS (SELECT doc_id, unnest({extract_jsonld_sql('html')}) AS payload FROM t)
       SELECT doc_id, json_extract_string(payload, '$.@type') AS jtype,
              TRY_CAST(json_extract_string(payload, '$.id') AS BIGINT) AS jid
       FROM j""",
)
def jsonld_harvest(spark, sf_dir):
    """JSON-LD structured-data harvest (textops.extract_jsonld — the
    schema.org carrier in Common Crawl): extract the typed script
    blocks (every 3rd doc plants one), then typed field access via
    get_json_object — extraction and parsing both oracle-checked. The
    '@type' path exercises the special-character key; whitespace
    around the payload is trimmed by the operator."""
    from xmlschemavalidator_spark.textops import extract_jsonld

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select("doc_id", "lang", _harvest_html_spark().alias("html"))
    j = pages.select(
        "doc_id", F.explode(extract_jsonld(F.col("html"))).alias("payload")
    )
    return j.select(
        "doc_id",
        F.get_json_object("payload", "$['@type']").alias("jtype"),
        F.get_json_object("payload", "$.id").try_cast("bigint").alias("jid"),
    )


@q(
    "gini_doc_length_per_lang",
    """WITH b AS (
         SELECT lang, doc_id,
                CAST(floor(CAST(n_chars AS DOUBLE) * 1) AS HUGEINT) AS x
         FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
       r AS (SELECT lang, x,
                    row_number() OVER (PARTITION BY lang ORDER BY x, doc_id) AS i,
                    count(*) OVER (PARTITION BY lang) AS n
             FROM b)
       SELECT lang, CAST(max(n) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS total_q,
              round(CAST(sum((2 * i - n - 1) * x) AS DOUBLE)
                    / (CAST(max(n) AS DOUBLE) * CAST(sum(x) AS DOUBLE)), 6) AS gini
       FROM r GROUP BY lang""",
)
def gini_doc_length_per_lang(spark, sf_dir):
    """Per-language Gini coefficient of document lengths
    (checks/stats.py:gini_coefficient) — the Lorenz-curve inequality
    read of the corpus the HHI's top-heavy view misses; a language
    whose length mass concentrates in a few giant docs is a scraping
    artifact signal. Rank form over the pinned (value, id) total
    order, DECIMAL(38,0) numerator, ONE division."""
    from xmlschemavalidator_spark.checks.stats import gini_coefficient

    docs = _t(spark, sf_dir, "documents").where(F.col("n_chars").isNotNull())
    return gini_coefficient(docs, "n_chars", "doc_id", ("lang",))


@q(
    "link_powerlaw_alpha",
    """WITH e0 AS (SELECT doc_id AS src, (doc_id * 17 + 3) % 50000 AS dst
                   FROM documents WHERE doc_id <> (doc_id * 17 + 3) % 50000),
       deg AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS deg
               FROM (SELECT DISTINCT src, dst FROM e0) GROUP BY dst),
       b AS (SELECT CAST(floor(ln(CAST(deg AS DOUBLE) / 0.5) * 1000000) AS BIGINT)
                    AS l
             FROM deg WHERE deg >= 1)
       SELECT CAST(count(*) AS BIGINT) AS n, CAST(1 AS INTEGER) AS kmin,
              CAST(coalesce(sum(l), 0) AS BIGINT) AS sum_ln_micro,
              round(CASE WHEN coalesce(sum(l), 0) > 0
                    THEN 1.0 + CAST(count(*) AS DOUBLE)
                         / (CAST(sum(l) AS DOUBLE) / 1000000.0) END, 6) AS alpha
       FROM b""",
)
def link_powerlaw_alpha(spark, sf_dir):
    """Power-law exponent MLE over in-degrees of the 50k-node planted
    graph (Clauset-Shalizi-Newman 2009 discrete approximation;
    weburl.py:powerlaw_alpha) — the one-number degree-realism /
    link-farm drift signal beside assortativity and local clustering.
    ln terms floor-quantized to micros, order-free BIGINT sum, ONE
    division. Distinct-edge in-degree matches degree_stats' simple
    graph convention."""
    from xmlschemavalidator_spark.weburl import powerlaw_alpha

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 17 + 3) % 50_000).alias("dst"),
    ).where(F.col("src") != F.col("dst")).distinct()
    deg = edges.groupBy("dst").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    return powerlaw_alpha(deg, "deg", kmin=1)


@q(
    "trigram_index_search",
    """SELECT doc_id, lang FROM documents
       WHERE text IS NOT NULL AND text LIKE '%window sort%'""",
)
def trigram_index_search(spark, sf_dir):
    """Substring search served from the PERSISTED trigram index
    (textindex.py:build_trigram_index/indexed_substring_search): the
    probe lists only the query trigrams' _bucket= partition directories
    (plan-pinned in test_plans) and pushes tri IN into term-sorted row
    groups — LIKE '%q%' without the corpus scan, built across TWO
    appended batches so the cross-batch candidate count path carries
    weight. Oracle is the plain LIKE scan: hash-equality proves the
    persisted path lossless end-to-end."""
    import tempfile

    from xmlschemavalidator_spark.textindex import (
        append_trigram_index,
        build_trigram_index,
        indexed_substring_search,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tmp = tempfile.mkdtemp(prefix="tgidxq_")
    build_trigram_index(docs.where(F.col("doc_id") % 2 == 0), "doc_id", tmp)
    append_trigram_index(
        docs.where(F.col("doc_id") % 2 != 0), "doc_id", tmp, batch_id="00001"
    )
    return indexed_substring_search(docs, "doc_id", "text", "window sort", tmp).select(
        "doc_id", "lang"
    )


def _method_eval_oracle() -> str:
    """Meta-oracle: composes the exact-Jaccard truth with both portable
    candidate oracles — one query scoring two operators against a third,
    all previously oracle-exact on their own."""
    return f"""WITH t AS ({_JACCARD_SQL.format(thr=0.5)}),
       m AS ({_minhash_portable_oracle()}),
       b AS ({_bbit_minhash_oracle()}),
       tc AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM t),
       sm AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
                     CAST(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_hits
              FROM m LEFT JOIN t USING (id_a, id_b)),
       sb AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
                     CAST(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_hits
              FROM b LEFT JOIN t USING (id_a, id_b))
       SELECT 'minhash_lsh' AS method, n_candidates, tc.n_truth, n_hits,
              CASE WHEN n_candidates > 0
                   THEN n_hits * 1000000 // n_candidates END AS precision_micro,
              CASE WHEN tc.n_truth > 0
                   THEN n_hits * 1000000 // tc.n_truth END AS recall_micro
       FROM sm CROSS JOIN tc
       UNION ALL
       SELECT 'bbit_minhash', n_candidates, tc.n_truth, n_hits,
              CASE WHEN n_candidates > 0
                   THEN n_hits * 1000000 // n_candidates END,
              CASE WHEN tc.n_truth > 0
                   THEN n_hits * 1000000 // tc.n_truth END
       FROM sb CROSS JOIN tc"""


@q("dedup_method_evaluation", _method_eval_oracle())
def dedup_method_evaluation_q(spark, sf_dir):
    """The near-dup completeness critic (dedup.py:
    dedup_method_evaluation): MinHash-LSH banding and b-bit MinHash
    pairing scored against the EXACT Jaccard>=0.5 ground truth on the
    same corpus — measured at sf0.01: minhash 25/25 candidates/hits
    (perfect), b-bit 28/25 (recall 10⁶, precision 892857μ — the one-bit
    compression's honest cost). An oracle-exact META-query composing
    three independently oracle-exact operators; rates in BIGINT-div
    micros."""
    from xmlschemavalidator_spark.dedup import dedup_method_evaluation

    return dedup_method_evaluation(
        _t(spark, sf_dir, "documents"), "doc_id", portable=True
    )


from xmlschemavalidator_spark.weburl import structure_fingerprint_sql  # noqa: E402

_TMPL_HTML_DUCK = (
    "CASE doc_id % 4"
    " WHEN 0 THEN '<html><head><title>' || CAST(doc_id AS VARCHAR)"
    "   || '</title></head><body><div><p>' || coalesce(text, '')"
    "   || '</p></div></body></html>'"
    " WHEN 1 THEN '<html><body><article><h1>t</h1><p>'"
    "   || CAST(doc_id AS VARCHAR) || '</p></article></body></html>'"
    " WHEN 2 THEN '<html><body><ul><li>' || CAST(doc_id AS VARCHAR)"
    "   || '</li></ul></body></html>'"
    " ELSE '<html><body><div><p>' || CAST(doc_id AS VARCHAR)"
    "   || '</p></div></body></html>' END"
)


@q(
    "domain_template_diversity",
    f"""WITH t AS (SELECT 'd' || CAST(doc_id % 10 AS VARCHAR) AS domain,
                          {structure_fingerprint_sql(_TMPL_HTML_DUCK)} AS fp
                   FROM documents),
       pf AS (SELECT domain, fp, count(*) AS n FROM t GROUP BY 1, 2)
       SELECT domain, CAST(sum(n) AS BIGINT) AS n_pages,
              CAST(count(*) AS BIGINT) AS n_structures,
              CAST(count(*) * 1000000 // sum(n) AS BIGINT) AS diversity_micro
       FROM pf GROUP BY domain""",
)
def domain_template_diversity(spark, sf_dir):
    """Templated-site detection (weburl.py:structure_fingerprint /
    domain_template_stats): pages collide on the md5 of their
    opening-tag NAME sequence (content/attributes ignored), so a CMS
    stamping one scaffold across a domain reads near-0 diversity. The
    plant rotates 4 templates across 10 domains — every domain lands at
    a measured low diversity (the per-(domain,fp) collapse and the
    integer-micro ratio both carry weight). Two stacked partial-agg
    groupBys, the l-diversity shape."""
    from xmlschemavalidator_spark.weburl import domain_template_stats

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("<html><head><title>"), did,
                F.lit("</title></head><body><div><p>"),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit("</p></div></body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("<html><body><article><h1>t</h1><p>"), did,
                F.lit("</p></article></body></html>"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("<html><body><ul><li>"), did, F.lit("</li></ul></body></html>")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<html><body><div><p>"), did, F.lit("</p></div></body></html>")
            )
        )
    )
    pages = docs.select(
        F.concat(F.lit("d"), (F.col("doc_id") % 10).cast("string")).alias("domain"),
        html.alias("html"),
    )
    return domain_template_stats(pages, "domain", "html")


@q(
    "crawl_rate_audit",
    """WITH w AS (SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
                         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
                              AS BIGINT) * 3600 AS window_start,
                         CAST(count(*) AS BIGINT) AS n_requests
                  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
       SELECT host, window_start, n_requests FROM w WHERE n_requests > 3""",
)
def crawl_rate_audit(spark, sf_dir):
    """Crawl-politeness rate audit (weburl.py:crawl_rate_violations):
    hourly windows where a host was hit more than 3 times — 77
    violating (host, window) cells measured at sf0.01 (max burst 6), so
    the gate carries real weight. ONE partial-agg groupBy on
    (host, window); the events table stands in as the fetch log with
    user_id%20 as the host key."""
    from xmlschemavalidator_spark.weburl import crawl_rate_violations

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("host"),
        "ts",
    )
    return crawl_rate_violations(ev, "host", "ts", max_per_window=3, window_s=3600)


from xmlschemavalidator_spark.textops import PORTABLE_HASH64_SQL as _PH64  # noqa: E402

_JK_BUCKET = (
    "(" + _PH64.format(x="'jk:' || CAST(event_id AS VARCHAR)") + ") % 20"
)


@q(
    "jackknife_purchase_rate",
    f"""WITH b AS (
         SELECT {_JK_BUCKET} AS bk,
                CAST(floor(CAST(CASE WHEN event_type = 'purchase' THEN 1.0
                                ELSE 0.0 END AS DOUBLE) * 1000000) AS HUGEINT) AS nm,
                CAST(1000000 AS HUGEINT) AS dn
         FROM events WHERE event_type IS NOT NULL),
       pb AS (SELECT bk, CAST(count(*) AS BIGINT) AS n,
                     sum(nm) AS sn, sum(dn) AS sd
              FROM b GROUP BY bk),
       t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows, sum(sn) AS tn,
                    sum(sd) AS td, CAST(count(*) AS BIGINT) AS nb
             FROM pb),
       th AS (SELECT pb.*, t.*,
                     CAST(round(CAST(t.tn - pb.sn AS DOUBLE)
                                / CAST(t.td - pb.sd AS DOUBLE), 12)
                          AS DECIMAL(24,12)) AS theta
              FROM pb CROSS JOIN t),
       a AS (SELECT max(n_rows) AS n_rows, max(tn) AS tn, max(td) AS td,
                    max(nb) AS nb, sum(theta) AS sth,
                    sum(CAST(round(theta * theta, 12) AS DECIMAL(28,12))) AS sth2
             FROM th)
       SELECT n_rows,
              round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE), 6) AS ratio,
              round(sqrt(greatest(
                (CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE)
                * (CAST(sth2 AS DOUBLE)
                   - CAST(nb AS DOUBLE) * (CAST(sth AS DOUBLE) / CAST(nb AS DOUBLE))
                     * (CAST(sth AS DOUBLE) / CAST(nb AS DOUBLE))), 0.0)), 6) AS se,
              round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE)
                    - 1.96 * sqrt(greatest(
                (CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE)
                * (CAST(sth2 AS DOUBLE)
                   - CAST(nb AS DOUBLE) * (CAST(sth AS DOUBLE) / CAST(nb AS DOUBLE))
                     * (CAST(sth AS DOUBLE) / CAST(nb AS DOUBLE))), 0.0)), 6) AS ci_lo,
              round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE)
                    + 1.96 * sqrt(greatest(
                (CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE)
                * (CAST(sth2 AS DOUBLE)
                   - CAST(nb AS DOUBLE) * (CAST(sth AS DOUBLE) / CAST(nb AS DOUBLE))
                     * (CAST(sth AS DOUBLE) / CAST(nb AS DOUBLE))), 0.0)), 6) AS ci_hi
       FROM a""",
)
def jackknife_purchase_rate(spark, sf_dir):
    """Delete-one-bucket jackknife CI for the purchase RATE (Tukey 1958
    delete-group form; checks/stats.py:jackknife_ratio): the variance
    answer single-row formulas can't give for ratio metrics. 20
    deterministic md5 buckets (pure function of event_id — retries
    bucket identically); θ_i one double division of exact DECIMAL micro
    sums each, deviations 12dp-rounded-then-DECIMAL-summed, one IEEE
    sqrt. ONE partial-agg groupBy to 20 rows, then a tiny re-agg."""
    from xmlschemavalidator_spark.checks.stats import jackknife_ratio

    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    scored = ev.select(
        F.col("event_id"),
        F.when(F.col("event_type") == "purchase", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("purchase"),
        F.lit(1.0).alias("one"),
    )
    return jackknife_ratio(scored, "purchase", "one", id_col="event_id")


@q(
    "eb_shrunken_source_rates",
    """WITH per AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN position(' spark ' IN ' ' || text || ' ') > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS x
         FROM documents WHERE text IS NOT NULL GROUP BY source),
       r AS (SELECT *, CAST(round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 12)
                            AS DECIMAL(24,12)) AS rr FROM per),
       p AS (SELECT CAST(count(*) AS BIGINT) AS ng, sum(rr) AS sr,
                    sum(CAST(round(rr * rr, 12) AS DECIMAL(28,12))) AS sr2
             FROM r),
       j AS (SELECT r.*, p.* FROM r CROSS JOIN p),
       c AS (SELECT *,
                    CAST(sr AS DOUBLE) / CAST(ng AS DOUBLE) AS m,
                    (CAST(sr2 AS DOUBLE)
                     - CAST(ng AS DOUBLE)
                       * (CAST(sr AS DOUBLE) / CAST(ng AS DOUBLE))
                       * (CAST(sr AS DOUBLE) / CAST(ng AS DOUBLE)))
                      / CAST(ng AS DOUBLE) AS v
             FROM j)
       SELECT source, n, x,
              round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
              round(CASE WHEN ng >= 2 AND v > 0
                          AND (m * (1.0 - m) / v - 1.0) > 0
                    THEN (m * (m * (1.0 - m) / v - 1.0) + CAST(x AS DOUBLE))
                         / ((m * (1.0 - m) / v - 1.0) + CAST(n AS DOUBLE))
                    ELSE CAST(x AS DOUBLE) / CAST(n AS DOUBLE) END, 6)
                AS shrunk_rate
       FROM c""",
)
def eb_shrunken_source_rates(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-source
    'contains-spark' rates (checks/stats.py:eb_shrunken_rates) — the
    small-domain ranking fix: a 2/2 source must not outrank a
    9500/10000 one, so the MoM Beta prior fitted to the observed rate
    distribution pulls small sources toward the global mean. Raw rates
    12dp-rounded then DECIMAL-summed for the prior moments (order-free);
    posterior is a fixed double chain. One groupBy + a broadcast 1-row
    prior."""
    from xmlschemavalidator_spark.checks.stats import eb_shrunken_rates

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    scored = docs.select(
        "source",
        (
            F.locate(" spark ", F.concat(F.lit(" "), F.col("text"), F.lit(" "))) > 0
        ).cast("int").alias("has_spark"),
    )
    return eb_shrunken_rates(scored, ("source",), "has_spark")


from xmlschemavalidator_spark.textops import declared_charset_sql  # noqa: E402

_CHARSET_HTML_DUCK = (
    "CASE doc_id % 5"
    " WHEN 0 THEN '<html><head><meta charset=\"UTF-8\"></head><body>x</body></html>'"
    " WHEN 1 THEN '<html><head><META CHARSET=utf-8></head><body>x</body></html>'"
    " WHEN 2 THEN '<html><head><meta http-equiv=\"Content-Type\" "
    "content=\"text/html; charset=ISO-8859-1\"></head><body>x</body></html>'"
    " WHEN 3 THEN '<html><head><meta charset = ''Windows-1252'' ></head>"
    "<body>x</body></html>'"
    " ELSE '<html><body>no declaration</body></html>' END"
)


@q(
    "charset_declaration_stats",
    f"""WITH t AS (SELECT doc_id, {_CHARSET_HTML_DUCK} AS html FROM documents)
       SELECT {declared_charset_sql('html')} AS charset,
              CAST(count(*) AS BIGINT) AS n
       FROM t GROUP BY 1""",
)
def charset_declaration_stats(spark, sf_dir):
    """Declared-charset distribution (textops.declared_charset): both
    the HTML5 and legacy http-equiv declaration forms, case/quote/space
    variants, and the NULL no-declaration bucket all planted — the
    crawl triage that pairs with the mojibake detector (a non-utf-8
    declaration is where double-encoding bugs start). Narrow regex
    projection + one bounded groupBy."""
    from xmlschemavalidator_spark.textops import declared_charset

    docs = _t(spark, sf_dir, "documents")
    html = (
        F.when(F.col("doc_id") % 5 == 0,
               F.lit('<html><head><meta charset="UTF-8"></head><body>x</body></html>'))
        .when(F.col("doc_id") % 5 == 1,
              F.lit("<html><head><META CHARSET=utf-8></head><body>x</body></html>"))
        .when(F.col("doc_id") % 5 == 2,
              F.lit('<html><head><meta http-equiv="Content-Type" '
                    'content="text/html; charset=ISO-8859-1"></head>'
                    "<body>x</body></html>"))
        .when(F.col("doc_id") % 5 == 3,
              F.lit("<html><head><meta charset = 'Windows-1252' ></head>"
                    "<body>x</body></html>"))
        .otherwise(F.lit("<html><body>no declaration</body></html>"))
    )
    return (
        docs.select(declared_charset(html).alias("charset"))
        .groupBy("charset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


_ILV_KEY = _PH64.format(x="'ilv:' || CAST(doc_id AS VARCHAR)")


@q(
    "interleaved_training_order",
    f"""WITH g AS (SELECT _g, row_number() OVER (ORDER BY _g) - 1 AS gi,
                          count(*) OVER () AS ng
                   FROM (SELECT DISTINCT lang AS _g FROM documents)),
       r AS (SELECT doc_id, lang,
                    row_number() OVER (PARTITION BY lang
                        ORDER BY {_ILV_KEY}, doc_id) - 1 AS r
             FROM documents)
       SELECT r.doc_id, r.lang,
              CAST(r.r * g.ng + g.gi AS BIGINT) AS interleave_pos
       FROM r JOIN g ON r.lang IS NOT DISTINCT FROM g._g""",
)
def interleaved_training_order(spark, sf_dir):
    """Language-interleaved training order (sampling.py:
    interleave_by_group): every doc gets a global position on the
    strided lattice r·G + lang_index over an md5-shuffled within-lang
    rank, so consecutive training positions rotate through the
    languages — the curriculum smoothing that stops a shard from
    serving an hour of one language. Pure function of (salt, id):
    reruns, retries and both engines produce the identical order."""
    from xmlschemavalidator_spark.sampling import interleave_by_group

    return interleave_by_group(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id", "lang"
    )


@q(
    "nfc_normalization_check",
    """WITH t AS (
         SELECT doc_id,
                CASE WHEN doc_id % 7 = 0
                     THEN text || ' cafe' || chr(101) || chr(769)
                     WHEN doc_id % 7 = 1 THEN text || ' caf' || chr(233)
                     ELSE text END AS txt
         FROM documents WHERE text IS NOT NULL)
       SELECT doc_id, txt = nfc_normalize(txt) AS is_nfc
       FROM t""",
)
def nfc_normalization_check(spark, sf_dir):
    """Unicode NFC hygiene check (textops.nfc_flags): planted
    decomposed sequences (e + COMBINING ACUTE) on every 7th doc flag
    FALSE while composed é and plain ASCII pass — the corpus
    normalization gate that protects exact dedup fingerprints and
    tokenizer vocab lookups from composed/decomposed twins. One
    Arrow-batched pandas projection; unicodedata.is_normalized and
    DuckDB's nfc_normalize implement the same Unicode algorithm, so
    the flag column is oracle-exact."""
    from xmlschemavalidator_spark.textops import nfc_flags

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" cafeé"))
        )
        .when(F.col("doc_id") % 7 == 1, F.concat(F.col("text"), F.lit(" café")))
        .otherwise(F.col("text"))
        .alias("txt"),
    )
    return nfc_flags(planted, "doc_id", "txt").withColumnRenamed("doc", "doc_id")


from xmlschemavalidator_spark.weburl import (  # noqa: E402
    hreflang_alternates_sql,
    robots_crawl_delay_millis_sql,
)


@q(
    "robots_crawl_delays",
    f"""WITH t AS (SELECT doc_id, {_ROBOTS_TXT_DUCK}
                   || CASE WHEN doc_id % 4 = 0
                      THEN 'Crawl-delay: ' || CAST(doc_id % 5 AS VARCHAR)
                           || '.5' || chr(10) ELSE '' END AS robots
              FROM documents)
       SELECT doc_id, {robots_crawl_delay_millis_sql('robots')} AS delay_ms
       FROM t""",
)
def robots_crawl_delays(spark, sf_dir):
    """Crawl-delay extraction for the wildcard agent (weburl.py:
    robots_crawl_delay_millis) — completes the robots directive trio
    and feeds the politeness budget crawl_rate_violations audits.
    Planted on every 4th doc with fractional seconds so the millisecond
    floor and the NULL-absent path both carry weight; the wildcard-
    group scoping reuses the shared ROBOTS_GROUP_RE."""
    from xmlschemavalidator_spark.weburl import robots_crawl_delay_millis

    docs = _t(spark, sf_dir, "documents")
    rid = (F.col("doc_id") % 50).cast("string")
    robots = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("Sitemap: https://r"), rid, F.lit(".example/sm.xml  \n")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.lit("sitemap:https://r"), rid, F.lit(".example/sm2.xml\n")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("Crawl-delay: "), (F.col("doc_id") % 5).cast("string"),
                F.lit(".5\n"),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id", robots_crawl_delay_millis(robots).alias("delay_ms")
    )


_HREFLANG_HTML_DUCK = (
    "'<link rel=\"alternate\" hreflang=\"fr\" href=\"https://s'"
    " || CAST(doc_id % 97 AS VARCHAR) || '.example/fr/p'"
    " || CAST(doc_id AS VARCHAR) || '\">'"
    " || CASE WHEN doc_id % 2 = 0 THEN"
    " '<LINK HREFLANG=''de-AT'' REL=alternate HREF=''https://s'"
    " || CAST(doc_id % 97 AS VARCHAR) || '.example/de/p'"
    " || CAST(doc_id AS VARCHAR) || '''>' ELSE '' END"
    " || '<link rel=\"stylesheet\" href=\"https://x/css\">'"
)


@q(
    "hreflang_page_graph",
    f"""WITH t AS (SELECT doc_id, {_HREFLANG_HTML_DUCK} AS html FROM documents)
       SELECT doc_id, e.hreflang, e.href
       FROM (SELECT doc_id, unnest({hreflang_alternates_sql('html')}) AS e FROM t)""",
)
def hreflang_page_graph(spark, sf_dir):
    """hreflang alternate harvesting (weburl.py:hreflang_alternates) —
    publisher-declared translation sets, the aligned-document source
    for parallel-corpus mining and translation-aware dedup. Plants
    case/quote variants plus a non-hreflang alternate and a stylesheet
    link so the attribute scoping carries weight. Map-only; regexes
    shared verbatim with the oracle."""
    from xmlschemavalidator_spark.weburl import hreflang_alternates

    docs = _t(spark, sf_dir, "documents")
    sid = (F.col("doc_id") % 97).cast("string")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<link rel="alternate" hreflang="fr" href="https://s'), sid,
        F.lit(".example/fr/p"), did, F.lit('">'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<LINK HREFLANG='de-AT' REL=alternate HREF='https://s"), sid,
                F.lit(".example/de/p"), did, F.lit("'>"),
            ),
        ).otherwise(F.lit("")),
        F.lit('<link rel="stylesheet" href="https://x/css">'),
    )
    return hreflang_alternates(
        docs.select("doc_id", html.alias("html")), "doc_id", "html"
    )


@q(
    "simpsons_paradox_daily_events",
    """WITH daily AS (SELECT event_type,
                             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                                  AS BIGINT) AS day,
                             CAST(count(*) AS BIGINT) AS n_events
                      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
       q AS (SELECT event_type, CAST(floor(day * 1000000) AS HUGEINT) AS x,
                    CAST(floor(n_events * 1000000) AS HUGEINT) AS y FROM daily),
       a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
                    sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
             FROM q GROUP BY 1),
       slopes AS (SELECT CASE WHEN (n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE) > 0
                   THEN round((n::DOUBLE*sxy::DOUBLE - sx::DOUBLE*sy::DOUBLE)
                        / (n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE), 6)
                   END AS s FROM a),
       votes AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                        CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
                          AS n_groups_pos,
                        CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
                          AS n_groups_neg
                 FROM slopes),
       p AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
                    sum(x*x) AS sxx, sum(x*y) AS sxy FROM q),
       pooled AS (SELECT CASE WHEN (n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE) > 0
                   THEN round((n::DOUBLE*sxy::DOUBLE - sx::DOUBLE*sy::DOUBLE)
                        / (n::DOUBLE*sxx::DOUBLE - sx::DOUBLE*sx::DOUBLE), 6)
                   END AS pooled_slope FROM p)
       SELECT pooled_slope, n_groups, n_groups_pos, n_groups_neg,
              coalesce((pooled_slope > 0 AND n_groups_neg > n_groups_pos)
                       OR (pooled_slope < 0 AND n_groups_pos > n_groups_neg),
                       FALSE) AS paradox
       FROM votes CROSS JOIN pooled""",
)
def simpsons_paradox_daily_events(spark, sf_dir):
    """Simpson's-paradox alarm (checks/stats.py:simpsons_paradox_check)
    over daily event counts: the NATURAL data exhibits the paradox —
    pooled slope −0.0127/day while 3 of 5 event types trend UP
    (measured at sf0.01): the pooled series mixes per-type levels, the
    exact aggregation bias this alarm exists to catch before someone
    'fixes' a metric that isn't falling. Reuses the OLS moment-sum
    machinery at both levels; signs taken on the 6dp-rounded slopes
    both engines report."""
    from xmlschemavalidator_spark.checks.stats import simpsons_paradox_check

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return simpsons_paradox_check(daily, "day", "n_events", ("event_type",))


@q(
    "standardized_purchase_rates",
    """WITH b AS (SELECT 'h' || CAST(user_id % 4 AS VARCHAR) AS grp,
                         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000
                              AS BIGINT) AS stratum,
                         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ok
                  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
       cell AS (SELECT grp, stratum, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(ok) AS BIGINT) AS x
                FROM b GROUP BY 1, 2),
       st AS (SELECT stratum, CAST(sum(n) AS BIGINT) AS ns FROM cell GROUP BY 1),
       t AS (SELECT CAST(sum(ns) AS BIGINT) AS nt FROM st),
       w AS (SELECT stratum, CAST(ns * 1000000 // nt AS BIGINT) AS w
             FROM st CROSS JOIN t),
       j AS (SELECT cell.*, w.w,
                    CAST(round(CAST(w.w AS DOUBLE)
                               * (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)), 12)
                         AS DECIMAL(28,12)) AS term
             FROM cell JOIN w USING (stratum)),
       a AS (SELECT grp, CAST(sum(n) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS xt,
                    sum(term) AS wsum, CAST(sum(w) AS BIGINT) AS covered
             FROM j GROUP BY grp)
       SELECT grp, n,
              round(CAST(xt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
              round(CASE WHEN covered > 0
                    THEN CAST(wsum AS DOUBLE) / CAST(covered AS DOUBLE) END, 6)
                AS standardized_rate,
              covered AS covered_weight_micro
       FROM a""",
)
def standardized_purchase_rates(spark, sf_dir):
    """Directly standardized purchase rates per user cohort
    (checks/stats.py:standardized_rates) — the composition CORRECTOR
    that pairs with the Simpson's alarm: each cohort's weekly rates are
    re-weighted by the GLOBAL week mix, so cohorts active in different
    weeks compare on rate, not on calendar composition. Exact micro
    stratum weights, 12dp-round-then-DECIMAL-sum terms, one division;
    covered weight surfaces thin-coverage cohorts instead of silently
    extrapolating."""
    from xmlschemavalidator_spark.checks.stats import standardized_rates

    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    base = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 4).cast("string")).alias("grp"),
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 604_800_000_000)
        .cast("bigint")
        .alias("stratum"),
        (F.col("event_type") == "purchase").cast("int").alias("ok"),
    )
    return standardized_rates(base, ("grp",), "stratum", "ok")


@q(
    "smr_purchase_rates",
    """WITH b AS (SELECT 'h' || CAST(user_id % 4 AS VARCHAR) AS grp,
                         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000
                              AS BIGINT) AS stratum,
                         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ok
                  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
       cell AS (SELECT grp, stratum, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(ok) AS BIGINT) AS x
                FROM b GROUP BY 1, 2),
       g AS (SELECT stratum, CAST(sum(n) AS BIGINT) AS ns,
                    CAST(sum(x) AS BIGINT) AS xs FROM cell GROUP BY 1),
       j AS (SELECT cell.*,
                    CAST(round(CAST(cell.n AS DOUBLE)
                               * (CAST(g.xs AS DOUBLE) / CAST(g.ns AS DOUBLE)), 12)
                         AS DECIMAL(28,12)) AS term
             FROM cell JOIN g USING (stratum)),
       a AS (SELECT grp, CAST(sum(n) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS observed, sum(term) AS e
             FROM j GROUP BY grp)
       SELECT grp, n, observed,
              round(CAST(e AS DOUBLE), 6) AS expected,
              round(CASE WHEN e > 0
                    THEN CAST(observed AS DOUBLE) / CAST(e AS DOUBLE) END, 6) AS smr
       FROM a""",
)
def smr_purchase_rates(spark, sf_dir):
    """Indirectly standardized purchase ratios per cohort
    (checks/stats.py:smr_rates — the SMR, for groups too small to
    estimate their own per-stratum rates): observed purchases vs what
    the GLOBAL weekly rates predict for each cohort's own week mix.
    The adjustment pair is complete: direct (standardized_rates)
    re-weights the group's rates; indirect re-weights the global
    rates — same bounded cell table, both oracle-exact."""
    from xmlschemavalidator_spark.checks.stats import smr_rates

    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    base = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 4).cast("string")).alias("grp"),
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 604_800_000_000)
        .cast("bigint")
        .alias("stratum"),
        (F.col("event_type") == "purchase").cast("int").alias("ok"),
    )
    return smr_rates(base, ("grp",), "stratum", "ok")


@q(
    "text_badword_gate",
    r"""WITH t AS (
         SELECT doc_id,
                list_filter(string_split_regex(trim(coalesce(lower(text), '')),
                            '\s+'), x -> x <> '') AS tk
         FROM documents),
       c AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                    CAST(len(list_filter(tk,
                         x -> x = 'hash' OR x = 'spark')) AS BIGINT) AS n_bad
             FROM t)
       SELECT doc_id AS doc, n_tokens, n_bad,
              CASE WHEN n_tokens > 0
                   THEN CAST(n_bad * 1000000 // n_tokens AS BIGINT) END AS bad_micro,
              n_bad = 0 AS keep
       FROM c""",
)
def text_badword_gate(spark, sf_dir):
    """C4's TEXT-level bad-words gate (textops.badword_stats — the
    sibling of the URL badword filter; C4 drops pages containing a
    listed word, Dolma scores the fraction: this emits both). Whole-
    token case-insensitive matching — never substrings — with the
    blocklist as a literal array; 'spark'/'hash' stand in as measured
    mid-frequency entries so keep/drop and the micro fraction all carry
    weight. One narrow projection, token array let-bound once."""
    from xmlschemavalidator_spark.textops import badword_stats

    return badword_stats(
        _t(spark, sf_dir, "documents"), "doc_id", ["spark", "hash"]
    )


@q(
    "text_lexical_diversity",
    r"""WITH t AS (
         SELECT doc_id,
                list_filter(string_split_regex(trim(coalesce(lower(text), '')),
                            '\s+'), x -> x <> '') AS tk
         FROM documents),
       c AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                    CAST(len(list_distinct(tk)) AS BIGINT) AS n_types,
                    CAST(len(tk) // 50 AS BIGINT) AS k,
                    CAST(list_sum(list_transform(range(0, len(tk) // 50),
                         i -> len(list_distinct(tk[i * 50 + 1 : i * 50 + 50]))))
                         AS BIGINT) AS segsum
             FROM t)
       SELECT doc_id AS doc, n_tokens, n_types,
              CASE WHEN n_tokens > 0
                   THEN CAST(floor(n_types * 1000000 / n_tokens) AS BIGINT)
              END AS ttr_micro,
              CASE WHEN k > 0
                   THEN CAST(floor(segsum * 1000000 / (k * 50)) AS BIGINT)
              END AS msttr_micro
       FROM c""",
)
def text_lexical_diversity(spark, sf_dir):
    """Lexical diversity (textops.lexical_diversity): raw TTR plus
    MSTTR over 50-token segments — the length-robust form (raw TTR
    collapses on long docs by Heaps' law, so gating on it punishes
    length; MSTTR compares every doc at a fixed window). Low values
    flag keyword-stuffed SEO and template spam the length/punct ratios
    miss. One narrow projection, token array let-bound once, integer
    micros both."""
    from xmlschemavalidator_spark.textops import lexical_diversity

    return lexical_diversity(_t(spark, sf_dir, "documents"), "doc_id", window=50)


@q(
    "link_reciprocity",
    """WITH e AS (SELECT DISTINCT doc_id % 80 AS s,
                         (doc_id * doc_id + 3) % 80 AS d
                  FROM documents WHERE doc_id % 80 <> (doc_id * doc_id + 3) % 80),
       r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
             FROM e WHERE EXISTS (SELECT 1 FROM e e2
                                  WHERE e2.s = e.d AND e2.d = e.s)),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
       SELECT n_edges, n_reciprocal,
              round(CASE WHEN n_edges > 0
                    THEN CAST(n_reciprocal AS DOUBLE) / n_edges END, 6)
                AS reciprocity
       FROM t CROSS JOIN r""",
)
def link_reciprocity(spark, sf_dir):
    """Directed reciprocity over a quadratic planted digraph
    (weburl.py:edge_reciprocity) — the mutual-linking / SEO-ring
    one-number beside assortativity; the quadratic map yields a
    measured mid-range value (both reciprocal and one-way edges carry
    weight). One distinct + one reversed-key semi join + a 2-long
    aggregate."""
    from xmlschemavalidator_spark.weburl import edge_reciprocity

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 80).alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 3) % 80).alias("dst"),
    )
    return edge_reciprocity(edges)


def _vex_oracle() -> str:
    sqls = _documents_ruleset_v2().compile_sql()
    arms = " UNION ALL ".join(
        f"SELECT doc_id, '{rid}' AS rule_id FROM documents "
        f"WHERE NOT coalesce(({sql}), FALSE)"
        for rid, sql in sorted(sqls.items())
    )
    ph = _PH64.format(x="'vex:' || CAST(doc_id AS VARCHAR)")
    return f"""WITH v AS ({arms}),
       r AS (SELECT doc_id, rule_id,
                    row_number() OVER (PARTITION BY rule_id
                        ORDER BY {ph}, doc_id) AS example_rank
             FROM v)
       SELECT doc_id, rule_id, CAST(example_rank AS BIGINT) AS example_rank
       FROM r WHERE example_rank <= 5"""


@q("violation_examples", _vex_oracle())
def violation_examples_q(spark, sf_dir):
    """Deterministic per-rule violation examples (engine.py:
    violation_examples) over the v2 contract's violations — the triage
    view beside the counts: exactly 5 content-addressed examples per
    failing rule, identical across runs/engines/retries so a rerun
    never churns what a human is mid-investigating. Windowed top-k per
    rule partition, never a global sort."""
    from xmlschemavalidator_spark.engine import validate, violation_examples

    res = validate(
        _t(spark, sf_dir, "documents"), _documents_ruleset_v2(), key="doc_id"
    )
    return violation_examples(res.violations, k=5).select(
        "doc_id", "rule_id", F.col("example_rank").cast("bigint").alias("example_rank")
    )


@q(
    "winsorized_mean_event_value",
    """WITH b AS (SELECT event_id AS id, CAST(value AS DOUBLE) AS v,
                         CAST(floor(CAST(value AS DOUBLE) * 1000000) AS HUGEINT) AS q
                  FROM events WHERE value IS NOT NULL),
       r AS (SELECT *, row_number() OVER (ORDER BY v, id) AS rn,
                    count(*) OVER () AS n
             FROM b),
       k AS (SELECT *, (n * 5) // 100 AS kk FROM r),
       c AS (SELECT *, max(CASE WHEN rn = kk + 1 THEN q END) OVER () AS lo,
                    max(CASE WHEN rn = n - kk THEN q END) OVER () AS hi
             FROM k),
       s AS (SELECT max(n) AS n, max(kk) AS kk,
                    sum(CASE WHEN rn <= kk THEN lo
                             WHEN rn > n - kk THEN hi ELSE q END) AS sq
             FROM c)
       SELECT CAST(n AS BIGINT) AS n,
              CAST(kk AS BIGINT) AS n_winsorized_each_side,
              round(CAST(sq AS DOUBLE) / (n * 1000000.0), 6) AS winsorized_mean
       FROM s""",
)
def winsorized_mean_event_value(spark, sf_dir):
    """Exact 5% winsorized mean of the event value (checks/stats.py:
    winsorized_mean — trimmed_mean's sibling that CLAMPS extreme ranks
    to the rank-selected cut elements instead of dropping them, keeping
    n constant for rate-per-row metrics). Cut values are actual data
    elements broadcast along the same window partitioning — one sort,
    no second scan; completes the mean/trimmed/winsorized robust
    trio."""
    from xmlschemavalidator_spark.checks.stats import winsorized_mean

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return winsorized_mean(ev, "value", "event_id", winsor_pct=5)


@q(
    "spearman_value_vs_hour",
    """WITH b AS (SELECT CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS x,
                         CAST(floor(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                              % 86400000000 AS DOUBLE) * 1000000) AS BIGINT) AS y
                  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
       rx AS (SELECT x, 2 * COALESCE(sum(t) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS xr
              FROM (SELECT x, CAST(count(*) AS DECIMAL(38,0)) AS t
                    FROM b GROUP BY x)),
       ry AS (SELECT y, 2 * COALESCE(sum(t) OVER (ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS yr
              FROM (SELECT y, CAST(count(*) AS DECIMAL(38,0)) AS t
                    FROM b GROUP BY y)),
       j AS (SELECT xr, yr FROM b JOIN rx USING (x) JOIN ry USING (y)),
       a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(xr) AS sa, sum(yr) AS sb,
                    sum(xr * xr) AS saa, sum(yr * yr) AS sbb,
                    sum(xr * yr) AS sab
             FROM j)
       SELECT n,
              round(CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
                         AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
                    THEN (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                         / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                                 - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                                * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
                    END, 6) AS rho
       FROM a""",
)
def spearman_value_vs_hour(spark, sf_dir):
    """Spearman rank correlation (checks/stats.py:spearman_correlation)
    between event value and time-of-day — the distribution-free
    dependence companion to Pearson (a fat-tail value moves Pearson
    arbitrarily; it moves a rank by one). Average ranks as exact
    integer halves over the bounded distinct grids, DECIMAL moment
    sums over the rank pairs, one sqrt."""
    from xmlschemavalidator_spark.checks.stats import spearman_correlation

    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    base = ev.select(
        "value",
        (F.unix_micros(F.col("ts").cast("timestamp")) % 86_400_000_000)
        .cast("double")
        .alias("tod"),
    )
    return spearman_correlation(base, "value", "tod")


@q(
    "cohens_d_doc_length",
    """WITH b AS (SELECT lang = 'en' AS ga,
                         CAST(floor(CAST(n_chars AS DOUBLE) * 1000000)
                              AS DECIMAL(38,0)) AS q
                  FROM documents
                  WHERE n_chars IS NOT NULL AND lang IN ('en', 'de')),
       a AS (SELECT CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                    CAST(sum(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
                    sum(CASE WHEN ga THEN q END) AS sa,
                    sum(CASE WHEN ga THEN NULL ELSE q END) AS sb,
                    sum(CASE WHEN ga THEN q * q END) AS saa,
                    sum(CASE WHEN ga THEN NULL ELSE q * q END) AS sbb
             FROM b),
       c AS (SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
                    CAST(sa AS DOUBLE) AS dsa, CAST(sb AS DOUBLE) AS dsb,
                    CAST(saa AS DOUBLE) AS dsaa, CAST(sbb AS DOUBLE) AS dsbb
             FROM a),
       d AS (SELECT *,
                    dsa / na / 1000000.0 AS ma, dsb / nb / 1000000.0 AS mb,
                    (dsaa - dsa * dsa / na) / (na - 1.0) / 1e12 AS va,
                    (dsbb - dsb * dsb / nb) / (nb - 1.0) / 1e12 AS vb
             FROM c)
       SELECT n_a, n_b,
              round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
              round(CASE WHEN n_a > 1 AND n_b > 1
                         AND ((na - 1.0) * va + (nb - 1.0) * vb)
                             / (na + nb - 2.0) > 0
                    THEN (ma - mb) / sqrt(((na - 1.0) * va + (nb - 1.0) * vb)
                                          / (na + nb - 2.0)) END, 6) AS d
       FROM d""",
)
def cohens_d_doc_length(spark, sf_dir):
    """Cohen's d on en-vs-de document lengths (checks/stats.py:
    cohens_d) — the effect-size companion to the MWU/z significance
    tests: at corpus scale everything is 'significant', d says whether
    anyone should care. Quantized DECIMAL moment sums in one pass;
    pooled-SD fixed chain."""
    from xmlschemavalidator_spark.checks.stats import cohens_d

    docs = _t(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull() & F.col("lang").isin(["en", "de"])
    )
    return cohens_d(docs, "n_chars", "lang", "en", "de")


@q(
    "anova_f_doc_length",
    """WITH b AS (SELECT lang AS g,
                         CAST(floor(CAST(n_chars AS DOUBLE) * 1000000)
                              AS DECIMAL(38,0)) AS q
                  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
       per AS (SELECT g, CAST(count(*) AS BIGINT) AS n, sum(q) AS s,
                      sum(q * q) AS ss
               FROM b GROUP BY g),
       a AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                    CAST(count(*) AS BIGINT) AS n_groups,
                    sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS sg2,
                    CAST(sum(s) AS DOUBLE) AS st,
                    CAST(sum(ss) AS DOUBLE) AS sst
             FROM per)
       SELECT n, n_groups,
              round(CASE WHEN n_groups >= 2 AND n > n_groups
                         AND (sst - sg2) > 0
                    THEN ((sg2 - st * st / n) / (n_groups - 1.0))
                         / ((sst - sg2) / (n - n_groups)) END, 6) AS f,
              CAST(n_groups - 1 AS INTEGER) AS df_between,
              CAST(n - n_groups AS BIGINT) AS df_within
       FROM a""",
)
def anova_f_doc_length(spark, sf_dir):
    """One-way ANOVA F over document lengths across languages
    (checks/stats.py:anova_f) — the parametric counterpart of the
    Kruskal-Wallis rank test on the same series (agreement between the
    two is itself a normality sanity check). Per-group DECIMAL moment
    sums, one pass, fixed double finals."""
    from xmlschemavalidator_spark.checks.stats import anova_f

    docs = _t(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    return anova_f(docs, "n_chars", "lang")


@q(
    "welch_t_doc_length",
    """WITH b AS (SELECT lang = 'en' AS ga,
                         CAST(floor(CAST(n_chars AS DOUBLE) * 1000000)
                              AS DECIMAL(38,0)) AS q
                  FROM documents
                  WHERE n_chars IS NOT NULL AND lang IN ('en', 'de')),
       a AS (SELECT CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                    CAST(sum(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
                    sum(CASE WHEN ga THEN q END) AS sa,
                    sum(CASE WHEN ga THEN NULL ELSE q END) AS sb,
                    sum(CASE WHEN ga THEN q * q END) AS saa,
                    sum(CASE WHEN ga THEN NULL ELSE q * q END) AS sbb
             FROM b),
       c AS (SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
                    CAST(sa AS DOUBLE) AS dsa, CAST(sb AS DOUBLE) AS dsb,
                    CAST(saa AS DOUBLE) AS dsaa, CAST(sbb AS DOUBLE) AS dsbb
             FROM a),
       d AS (SELECT *,
                    dsa / na / 1000000.0 AS ma, dsb / nb / 1000000.0 AS mb,
                    (dsaa - dsa * dsa / na) / (na - 1.0) / 1e12 AS va,
                    (dsbb - dsb * dsb / nb) / (nb - 1.0) / 1e12 AS vb
             FROM c),
       e AS (SELECT *, va / na AS sea, vb / nb AS seb,
                    va / na + vb / nb AS se2
             FROM d),
       f AS (SELECT *,
                    CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0
                         THEN (ma - mb) / sqrt(se2) END AS tv,
                    CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0
                         THEN (se2 * se2)
                              / (sea * sea / (na - 1.0)
                                 + seb * seb / (nb - 1.0)) END AS dfw
             FROM e)
       SELECT n_a, n_b,
              round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
              round(CASE WHEN n_a > 1 AND n_b > 1 THEN ma - mb END, 6)
                  AS mean_diff,
              round(tv, 6) AS t,
              round(dfw, 6) AS df_welch,
              coalesce(abs(tv) * 1000 > 1960.0, false) AS significant
       FROM f""",
)
def welch_t_doc_length(spark, sf_dir):
    """Welch's unequal-variance t-test on en-vs-de document lengths
    (checks/stats.py:welch_t) — the inference companion to cohens_d on
    the same pair: separate per-group variances (the honest default on
    web data) and the Welch-Satterthwaite df. Quantized DECIMAL moment
    sums in one pass; fixed double chain for t/df."""
    from xmlschemavalidator_spark.checks.stats import welch_t

    docs = _t(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull() & F.col("lang").isin(["en", "de"])
    )
    return welch_t(docs, "n_chars", "lang", "en", "de")


def _wilson_oracle() -> str:
    sqls = _documents_ruleset_v2().compile_sql()
    rids = sorted(sqls)
    fails = ", ".join(
        f"CAST(sum(CASE WHEN NOT coalesce(({sqls[r]}), FALSE) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS f_{i}"
        for i, r in enumerate(rids)
    )
    arms = " UNION ALL ".join(
        f"SELECT '{r}' AS rule_id, f_{i} AS n_fail, n_rows FROM a"
        for i, r in enumerate(rids)
    )
    return f"""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, {fails}
                  FROM documents),
       l AS ({arms}),
       w AS (SELECT *, CAST(n_fail AS DOUBLE) / n_rows AS p,
                    1.96 * 1.96 / n_rows AS z2n
             FROM l),
       c AS (SELECT *,
                    (p + z2n / 2.0) / (1.0 + z2n) AS center,
                    1.96 * sqrt(p * (1.0 - p) / n_rows
                                + 1.96 * 1.96 / (4.0 * n_rows * n_rows))
                      / (1.0 + z2n) AS half
             FROM w)
       SELECT rule_id, n_rows, n_fail,
              round(p, 6) AS fail_rate,
              round(greatest(center - half, 0.0), 6) AS ci_lo,
              round(least(center + half, 1.0), 6) AS ci_hi,
              greatest(center - half, 0.0) > 0.01 AS breaches_slo
       FROM c"""


@q("rule_rate_intervals", _wilson_oracle())
def rule_rate_intervals_q(spark, sf_dir):
    """Wilson intervals on per-rule failure rates vs a 1% SLO
    (engine.py:rule_rate_intervals) over the v2 contract — the
    uncertainty-aware gate: breaches_slo fires only when the WHOLE
    interval clears the SLO, so small segments don't page on noise.
    The v2 rules' measured mixed rates (never-failing, ~15%, ~35%)
    exercise the 0-failure interval, confident breaches and the
    in-between. One aggregate, fixed Wilson chain."""
    from xmlschemavalidator_spark.engine import rule_rate_intervals

    return rule_rate_intervals(
        _t(spark, sf_dir, "documents"),
        _documents_ruleset_v2(),
        slo_fail_micro=10_000,
    )


@q(
    "t_closeness_lang_source",
    """WITH base AS (SELECT lang, source,
                       CAST(floor(CAST(n_chars AS DOUBLE) * 1000000) AS BIGINT) AS s
                FROM documents WHERE n_chars IS NOT NULL),
       cell AS (SELECT lang, source, s, CAST(count(*) AS DECIMAL(38,0)) AS c
                FROM base GROUP BY 1, 2, 3),
       cls AS (SELECT lang, source, sum(c) AS n FROM cell GROUP BY 1, 2),
       val AS (SELECT s, sum(c) AS g FROM cell GROUP BY 1),
       tot AS (SELECT sum(g) AS nn, CAST(count(*) AS DECIMAL(38,0)) AS m FROM val),
       lat AS (SELECT cls.lang, cls.source, val.s, cls.n, tot.nn, tot.m,
                      COALESCE(cell.c, 0) * tot.nn - val.g * cls.n AS d
               FROM cls CROSS JOIN tot CROSS JOIN val
               LEFT JOIN cell ON cell.lang = cls.lang
                             AND cell.source = cls.source AND cell.s = val.s),
       cum AS (SELECT *, sum(d) OVER (PARTITION BY lang, source ORDER BY s) AS cumd
               FROM lat),
       agg AS (SELECT lang, source, max(n) AS n, max(nn) AS nn, max(m) AS m,
                      sum(abs(cumd)) AS num
               FROM cum GROUP BY 1, 2),
       e AS (SELECT lang, source, n, m,
                    CASE WHEN m > 1 THEN CAST(num AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)
                            * (CAST(m AS DOUBLE) - 1.0))
                         ELSE 0.0 END AS emd
             FROM agg)
       SELECT lang, source, CAST(n AS BIGINT) AS class_size,
              CAST(m AS BIGINT) AS n_values, round(emd, 6) AS emd,
              emd * 1000000.0 > 150000.0 AS breaches_t
       FROM e""",
)
def t_closeness_lang_source(spark, sf_dir):
    """t-closeness (checks/privacy.py:t_closeness_report, ordered EMD)
    over (lang, source) equivalence classes with n_chars as the
    sensitive attribute — the skewness-attack audit l-diversity can't
    give: a class can hold many DISTINCT lengths that are all extreme.
    Measured at sf0.01: 97 classes, EMD 0.051–0.473, t=0.15 splits
    49 breaching / 48 close — both branches hashed. Cross-multiplied
    DECIMAL cumulative diffs, one double division per class."""
    from xmlschemavalidator_spark.checks.privacy import t_closeness_report

    return t_closeness_report(
        _t(spark, sf_dir, "documents").where(F.col("n_chars").isNotNull()),
        ["lang", "source"],
        "n_chars",
        t_micro=150_000,
    )


@q(
    "t_closeness_source_lang_tv",
    """WITH base AS (SELECT source, lang AS s FROM documents WHERE lang IS NOT NULL),
       cell AS (SELECT source, s, CAST(count(*) AS DECIMAL(38,0)) AS c
                FROM base GROUP BY 1, 2),
       cls AS (SELECT source, sum(c) AS n FROM cell GROUP BY 1),
       val AS (SELECT s, sum(c) AS g FROM cell GROUP BY 1),
       tot AS (SELECT sum(g) AS nn, CAST(count(*) AS DECIMAL(38,0)) AS m FROM val),
       lat AS (SELECT cls.source, val.s, cls.n, tot.nn, tot.m,
                      abs(COALESCE(cell.c, 0) * tot.nn - val.g * cls.n) AS ad
               FROM cls CROSS JOIN tot CROSS JOIN val
               LEFT JOIN cell ON cell.source = cls.source AND cell.s = val.s),
       agg AS (SELECT source, max(n) AS n, max(nn) AS nn, max(m) AS m,
                      sum(ad) AS num
               FROM lat GROUP BY 1),
       e AS (SELECT source, n, m,
                    CAST(num AS DOUBLE)
                      / (2.0 * CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)) AS emd
             FROM agg)
       SELECT source, CAST(n AS BIGINT) AS class_size,
              CAST(m AS BIGINT) AS n_values, round(emd, 6) AS emd,
              emd * 1000000.0 > 150000.0 AS breaches_t
       FROM e""",
)
def t_closeness_source_lang_tv(spark, sf_dir):
    """Categorical t-closeness (equal-ground-distance EMD = total
    variation) — per-source language mix vs the global mix: the
    release-gate question 'does any source leak a skewed sub-population
    the global distribution hides?'. Measured at sf0.01: 20 sources,
    TV 0.078–0.224, t=0.15 splits 8 breaching / 12 close."""
    from xmlschemavalidator_spark.checks.privacy import t_closeness_report

    return t_closeness_report(
        _t(spark, sf_dir, "documents").where(F.col("lang").isNotNull()),
        ["source"],
        "lang",
        t_micro=150_000,
        ordered=False,
    )


@q(
    "jsd_drift_source",
    """WITH cur AS (SELECT source AS category,
                           CAST(count(*) AS BIGINT) AS n_cur
                    FROM documents
                    WHERE lang = 'en' AND source IS NOT NULL GROUP BY 1),
            base AS (SELECT source AS category,
                            CAST(count(*) AS BIGINT) AS n_base
                     FROM documents
                     WHERE lang <> 'en' AND source IS NOT NULL GROUP BY 1),
            j AS (SELECT coalesce(cur.category, base.category) AS category,
                         coalesce(n_cur, 0) AS n_cur,
                         coalesce(n_base, 0) AS n_base
                  FROM cur FULL OUTER JOIN base USING (category)),
            sh AS (SELECT n_cur, n_base,
                          sum(n_cur) OVER () AS tc,
                          sum(n_base) OVER () AS tb
                   FROM j),
            t AS (SELECT n_cur, n_base, tc, tb,
                         CAST(round(
                           (CASE WHEN n_cur > 0 THEN
                              (CAST(n_cur AS DOUBLE) / CAST(greatest(tc, 1) AS DOUBLE))
                              * ln(2.0 * (CAST(n_cur AS DOUBLE) / CAST(greatest(tc, 1) AS DOUBLE))
                                   / ((CAST(n_cur AS DOUBLE) / CAST(greatest(tc, 1) AS DOUBLE))
                                      + (CAST(n_base AS DOUBLE) / CAST(greatest(tb, 1) AS DOUBLE))))
                            ELSE 0.0 END)
                           + (CASE WHEN n_base > 0 THEN
                              (CAST(n_base AS DOUBLE) / CAST(greatest(tb, 1) AS DOUBLE))
                              * ln(2.0 * (CAST(n_base AS DOUBLE) / CAST(greatest(tb, 1) AS DOUBLE))
                                   / ((CAST(n_cur AS DOUBLE) / CAST(greatest(tc, 1) AS DOUBLE))
                                      + (CAST(n_base AS DOUBLE) / CAST(greatest(tb, 1) AS DOUBLE))))
                            ELSE 0.0 END), 12) AS DECIMAL(20,12)) AS term
                  FROM sh)
       SELECT CASE WHEN max(tc) > 0 AND max(tb) > 0
                THEN round(CAST(sum(term) AS DOUBLE) / 2.0, 6) END AS jsd,
              CASE WHEN max(tc) > 0 AND max(tb) > 0
                THEN round(CAST(sum(term) AS DOUBLE) / 2.0
                           / 0.6931471805599453, 6) END AS jsd_norm,
              CAST(count(*) AS BIGINT) AS n_categories,
              CAST(sum(CASE WHEN n_base = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_new_categories,
              CAST(sum(CASE WHEN n_cur = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_gone_categories
       FROM t""",
)
def jsd_drift_source(spark, sf_dir):
    """Jensen–Shannon divergence (checks/drift.py:jsd_drift) on the
    SAME histogram pair as psi_drift_source (en-doc source mix vs every
    other lang) — the family's bounded symmetric member: no zero-count
    smoothing (0·ln0=0; the mixture is positive wherever either side
    is) and jsd_norm ∈ [0,1] gives one alert threshold for every
    column. 12-dp-rounded terms into a DECIMAL sum (entropy contract);
    ln2 enters as a fixed literal."""
    from xmlschemavalidator_spark.checks.drift import categorical_histogram, jsd_drift

    docs = _t(spark, sf_dir, "documents")
    cur = categorical_histogram(docs.where(F.col("lang") == "en"), "source")
    base = categorical_histogram(docs.where(F.col("lang") != "en"), "source")
    return jsd_drift(cur, base)


# synthesized page urls: every 4th is an m.-mobile variant of its bare page
_PLANT_PAGE_URL = (
    "concat('https://', CASE WHEN doc_id % 4 = 0 THEN 'm.' ELSE '' END, "
    "'site', CAST(doc_id % 7 AS STRING), '.example.com/p/', "
    "CAST(doc_id % 50 AS STRING))"
)

# the bare (non-mobile) canonical every page's declaration points at
_PLANT_CANON_ABS = (
    "concat('https://site', CAST(doc_id % 7 AS STRING), '.example.com/p/', "
    "CAST(doc_id % 50 AS STRING))"
)

# head with canonical declarations in BOTH attribute orders (%3=0 absolute
# rel-first, %3=1 root-relative href-first, %3=2 none), meta-robots variants
# (incl. the 'none' alias and the 'noindexing' whole-token trap) and og tags
_PLANT_HEAD_HTML = f"""concat('<html><head>',
  CASE WHEN doc_id % 3 = 0
       THEN concat('<link rel="canonical" href="', {_PLANT_CANON_ABS}, '">')
       WHEN doc_id % 3 = 1
       THEN concat('<link href="/p/', CAST(doc_id % 50 AS STRING),
                   '" rel="canonical">')
       ELSE '' END,
  CASE WHEN doc_id % 5 = 0
       THEN '<meta name="robots" content="noindex, nofollow">'
       WHEN doc_id % 5 = 1 THEN '<meta content="none" name="robots">'
       WHEN doc_id % 5 = 2 THEN '<meta name="robots" content="noindexing">'
       ELSE '' END,
  CASE WHEN doc_id % 2 = 0
       THEN concat('<meta property="og:title" content="Doc ',
                   CAST(doc_id AS STRING), '">',
                   '<meta content="about doc" property="og:description">')
       ELSE '' END,
  '<title>x</title></head><body>b</body></html>')"""


def _canon_targets_oracle() -> str:
    from xmlschemavalidator_spark.weburl import (
        canonical_target_sql,
        canonical_url_sql,
        rel_canonical_sql,
    )

    tgt = canonical_target_sql("url", "html")
    return f"""WITH p AS (SELECT doc_id, {_PLANT_PAGE_URL} AS url,
                      {_PLANT_HEAD_HTML} AS html
               FROM documents)
       SELECT doc_id, url, {rel_canonical_sql('html')} AS declared,
              {tgt} AS canonical_target,
              {canonical_url_sql('url')} = {tgt} AS is_self
       FROM p"""


@q("rel_canonical_targets", _canon_targets_oracle())
def rel_canonical_targets(spark, sf_dir):
    """rel=canonical harvest (weburl.py:rel_canonical/canonical_target,
    RFC 6596) — the publisher-DECLARED dedup key, resolved (absolute
    as-is, root-relative against the page's own scheme://host) and
    normalized through canonical_url so declared and crawled keys meet
    in one key space; is_self marks pages that are their own canonical.
    Both attribute orders planted; one narrow projection, zero
    shuffles."""
    from xmlschemavalidator_spark.weburl import (
        canonical_target,
        canonical_url,
        rel_canonical,
    )

    p = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_PLANT_PAGE_URL).alias("url"),
        F.expr(_PLANT_HEAD_HTML).alias("html"),
    )
    tgt = canonical_target(F.col("url"), F.col("html"))
    return p.select(
        "doc_id",
        "url",
        rel_canonical(F.col("html")).alias("declared"),
        tgt.alias("canonical_target"),
        (canonical_url(F.col("url")) == tgt).alias("is_self"),
    )


def _canon_dedup_oracle() -> str:
    from xmlschemavalidator_spark.weburl import canonical_target_sql, canonical_url_sql

    tgt = canonical_target_sql("url", "html")
    return f"""WITH p AS (SELECT doc_id, {_PLANT_PAGE_URL} AS url,
                      {_PLANT_HEAD_HTML} AS html
               FROM documents),
       t AS (SELECT doc_id, url, {tgt} AS canonical_target,
                    CASE WHEN {canonical_url_sql('url')} = {tgt}
                         THEN 0 ELSE 1 END AS sr
             FROM p),
       r AS (SELECT *, row_number() OVER (PARTITION BY canonical_target
                         ORDER BY sr, url, doc_id) AS rn
             FROM t)
       SELECT doc_id, url, canonical_target FROM r WHERE rn = 1"""


@q("canonical_declared_dedup", _canon_dedup_oracle())
def canonical_declared_dedup_q(spark, sf_dir):
    """Declared-canonical consolidation (weburl.py:
    canonical_declared_dedup) — the search-engine dedup step BEFORE any
    content hashing: m.-mobile variants collapse onto the bare page
    that declares the same canonical; the page that IS its own
    canonical wins, else smallest url then id. min-struct partial agg
    (a crawler-trap target combines map-side) + semi join — never a
    window sort over the corpus."""
    from xmlschemavalidator_spark.weburl import canonical_declared_dedup

    p = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_PLANT_PAGE_URL).alias("url"),
        F.expr(_PLANT_HEAD_HTML).alias("html"),
    )
    return canonical_declared_dedup(p).select("doc_id", "url", "canonical_target")


def _meta_robots_oracle() -> str:
    from xmlschemavalidator_spark.weburl import meta_robots_signals_sql

    s = meta_robots_signals_sql("html")
    return f"""WITH p AS (SELECT doc_id, {_PLANT_HEAD_HTML} AS html FROM documents)
       SELECT doc_id, {s['robots_content']} AS robots_content,
              {s['noindex']} AS noindex, {s['nofollow']} AS nofollow,
              {s['noarchive']} AS noarchive
       FROM p"""


@q("meta_robots_gate", _meta_robots_oracle())
def meta_robots_gate(spark, sf_dir):
    """Page-level crawler opt-outs (weburl.py:meta_robots_signals) —
    the in-page sibling of robots.txt: noindex/nofollow/noarchive as
    whole-token matches over the comma-normalized directive list
    ('none' implies noindex+nofollow; the planted 'noindexing' trap
    stays False). A compliant corpus pipeline honors these at ingest
    like the license/noai taggers. One projection."""
    from xmlschemavalidator_spark.weburl import meta_robots_signals

    p = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PLANT_HEAD_HTML).alias("html")
    )
    sig = meta_robots_signals(F.col("html"))
    return p.select("doc_id", *(c.alias(k) for k, c in sig.items()))


def _og_oracle() -> str:
    from xmlschemavalidator_spark.weburl import og_properties_sql

    s = og_properties_sql("html")
    cols = ", ".join(f"{sql} AS {k}" for k, sql in s.items())
    return (
        f"WITH p AS (SELECT doc_id, {_PLANT_HEAD_HTML} AS html FROM documents) "
        f"SELECT doc_id, {cols} FROM p"
    )


@q("og_harvest", _og_oracle())
def og_harvest(spark, sf_dir):
    """Open Graph harvest (weburl.py:og_properties, ogp.me) — the third
    structured-data carrier beside JSON-LD and <table> grids: the
    publisher's own title/description/url/image summary, both attribute
    orders. Missing properties yield '' (half the plant carries og
    tags). One projection."""
    from xmlschemavalidator_spark.weburl import og_properties

    p = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PLANT_HEAD_HTML).alias("html")
    )
    cols = og_properties(F.col("html"))
    return p.select("doc_id", *(c.alias(k) for k, c in cols.items()))


@q(
    "kendall_tau_value_vs_hour",
    """WITH b AS (SELECT CAST(floor(CAST(value AS DOUBLE) * 1) AS BIGINT) AS sx,
                  CAST(floor(CAST((epoch_us(ts) % 86400000000) // 3600000000
                                  AS DOUBLE) * 1) AS BIGINT) AS sy
           FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
       cell AS (SELECT sx, sy, CAST(count(*) AS DECIMAL(38,0)) AS c
                FROM b GROUP BY 1, 2),
       m AS (SELECT sum(c) AS n, CAST(count(*) AS BIGINT) AS ncells FROM cell),
       txa AS (SELECT sum(t * (t - 1)) AS tx2
               FROM (SELECT sum(c) AS t FROM cell GROUP BY sx)),
       tya AS (SELECT sum(t * (t - 1)) AS ty2
               FROM (SELECT sum(c) AS t FROM cell GROUP BY sy)),
       cd AS (SELECT coalesce(sum(CASE WHEN c1.sy < c2.sy
                                       THEN c1.c * c2.c ELSE 0 END), 0) AS conc,
                     coalesce(sum(CASE WHEN c1.sy > c2.sy
                                       THEN c1.c * c2.c ELSE 0 END), 0) AS disc
              FROM cell c1, cell c2 WHERE c1.sx < c2.sx)
       SELECT CAST(n AS BIGINT) AS n, ncells AS n_cells,
              CAST(conc AS BIGINT) AS concordant,
              CAST(disc AS BIGINT) AS discordant,
              round(CASE WHEN n > 1 AND (n * (n - 1) - tx2) > 0
                              AND (n * (n - 1) - ty2) > 0
                    THEN 2.0 * CAST(conc - disc AS DOUBLE)
                         / sqrt(CAST(n * (n - 1) - tx2 AS DOUBLE)
                                * CAST(n * (n - 1) - ty2 AS DOUBLE)) END,
                    6) AS tau_b
       FROM m CROSS JOIN txa CROSS JOIN tya CROSS JOIN cd""",
)
def kendall_tau_value_vs_hour(spark, sf_dir):
    """Kendall τ-b (checks/stats.py:kendall_tau) between event value and
    hour-of-day — the same dependence question as
    spearman_value_vs_hour asked through pair concordance (τ reads as
    P(concordant) − P(discordant)). Observations collapse onto the
    quantized cell grid (here integer value units × 24 hours, 3225
    cells at sf0.01) so the O(n²) pair walk becomes an O(cells²)
    cell-pair product join with exact DECIMAL counts; tie terms come
    from the marginal tables, never the join."""
    from xmlschemavalidator_spark.checks.stats import kendall_tau

    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    base = ev.select(
        "value",
        (
            (F.unix_micros(F.col("ts").cast("timestamp")) % 86_400_000_000)
            / F.lit(3_600_000_000)
        ).cast("bigint").alias("tod_h"),
    )
    return kendall_tau(base, "value", "tod_h", x_quantum=1, y_quantum=1)


def _ams_oracle() -> str:
    from xmlschemavalidator_spark.checks.ams import ams_build_sql, ams_f2_estimate_sql

    sk = ams_build_sql(
        "(SELECT CAST(user_id AS VARCHAR) AS u FROM events "
        "WHERE user_id IS NOT NULL)",
        "u",
        rows=9,
        counters=64,
    )
    est = ams_f2_estimate_sql(sk)
    return f"""WITH pv AS (SELECT user_id, CAST(count(*) AS DECIMAL(38,0)) AS f
                    FROM events WHERE user_id IS NOT NULL GROUP BY 1),
       ex AS (SELECT CAST(sum(f) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS n_distinct,
                     CAST(sum(f * f) AS BIGINT) AS f2,
                     CAST((sum(f * f) * 1000000) // (sum(f) * sum(f)) AS BIGINT)
                         AS skew_ratio
              FROM pv),
       es AS ({est})
       SELECT n, n_distinct, f2, skew_ratio, f2_estimate,
              round(CAST(f2_estimate AS DOUBLE) / CAST(f2 AS DOUBLE), 6)
                  AS est_ratio
       FROM ex CROSS JOIN es"""


@q("ams_f2_user_id", _ams_oracle())
def ams_f2_user_id(spark, sf_dir):
    """AMS F₂ / self-join-size (checks/ams.py) on events.user_id — the
    join planner's number in fixed memory: F₂ = Σf² IS |events ⋈ events
    on user_id|, and skew_ratio = F₂·10⁶ div n² is the collision
    probability the shuffle-join skew gate wants. META query composing
    the exact two-stacked-groupBy twin with the 9×64 fast-AMS sketch
    (ONE portable hash per row per input, signed counters, rank-exact
    median of per-row Σz²) — the sketch replays BIT-IDENTICALLY in
    DuckDB, so even the estimate and est/exact ratio are oracle-exact,
    not a statistical bound."""
    from xmlschemavalidator_spark.checks.ams import (
        ams_build,
        ams_f2_estimate,
        self_join_size,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull()).select(
        F.col("user_id").cast("string").alias("u")
    )
    exact = self_join_size(ev, "u")
    est = ams_f2_estimate(ams_build(ev, "u", rows=9, counters=64))
    return exact.crossJoin(F.broadcast(est)).select(
        "n",
        "n_distinct",
        "f2",
        "skew_ratio",
        "f2_estimate",
        F.round(
            F.col("f2_estimate").cast("double") / F.col("f2").cast("double"), 6
        ).alias("est_ratio"),
    )


_INCL_ORACLE = """\
WITH dea AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS v FROM events
             WHERE user_id IS NOT NULL),
     dcu AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v FROM customer
             WHERE c_custkey IS NOT NULL),
     rowset AS (
       SELECT 'events_user_in_customer' AS direction,
              (SELECT CAST(count(*) AS BIGINT) FROM dea) AS n_distinct_a,
              (SELECT CAST(count(*) AS BIGINT) FROM dcu) AS n_distinct_b,
              (SELECT CAST(count(*) AS BIGINT) FROM dea
               WHERE NOT EXISTS (SELECT 1 FROM dcu WHERE dcu.v = dea.v))
                  AS n_missing
       UNION ALL
       SELECT 'customer_in_events_user',
              (SELECT CAST(count(*) AS BIGINT) FROM dcu),
              (SELECT CAST(count(*) AS BIGINT) FROM dea),
              (SELECT CAST(count(*) AS BIGINT) FROM dcu
               WHERE NOT EXISTS (SELECT 1 FROM dea WHERE dea.v = dcu.v)))
SELECT direction, n_distinct_a, n_distinct_b, n_missing,
       CASE WHEN n_distinct_a > 0
            THEN ((n_distinct_a - n_missing) * 1000000) // n_distinct_a
       END AS containment_micro,
       n_missing = 0 AND n_distinct_a > 0 AS contained
FROM rowset"""


def _incl_oracle() -> str:
    return _INCL_ORACLE


@q("inclusion_events_customer", _incl_oracle())
def inclusion_events_customer(spark, sf_dir):
    """Inclusion-dependency check (checks/fd.py:inclusion_check, Deequ
    isContainedIn / De Marchi IND) in both directions between
    events.user_id and customer.c_custkey — the VALUE-SET question the
    row-level referential check doesn't answer: forward holds (every
    event user IS a customer: the FK suggestion), reverse measurably
    fails (150 of 1500 customers ever emit events → containment 0.1).
    Distinct tables first, ONE anti join, integer-micro share."""
    from xmlschemavalidator_spark.checks.fd import inclusion_check

    ev = _t(spark, sf_dir, "events")
    cu = _t(spark, sf_dir, "customer")
    fwd = inclusion_check(ev, "user_id", cu, "c_custkey").select(
        F.lit("events_user_in_customer").alias("direction"), "*"
    )
    rev = inclusion_check(cu, "c_custkey", ev, "user_id").select(
        F.lit("customer_in_events_user").alias("direction"), "*"
    )
    return fwd.unionByName(rev)


@q(
    "inclusion_discovery_lineitem",
    """WITH lng AS (
         SELECT 'l_linenumber' AS col, CAST(l_linenumber AS VARCHAR) AS v
         FROM lineitem WHERE l_linenumber IS NOT NULL
         UNION ALL
         SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR)
         FROM lineitem WHERE l_suppkey IS NOT NULL
         UNION ALL
         SELECT 'l_partkey', CAST(l_partkey AS VARCHAR)
         FROM lineitem WHERE l_partkey IS NOT NULL),
       dist AS (SELECT DISTINCT col, v FROM lng),
       pc AS (SELECT col, CAST(count(*) AS BIGINT) AS d FROM dist GROUP BY 1),
       sh AS (SELECT a.col AS col_a, b.col AS col_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM dist a JOIN dist b ON a.v = b.v AND a.col <> b.col
              GROUP BY 1, 2),
       pairs AS (SELECT pa.col AS col_a, pb.col AS col_b, pa.d AS n_a
                 FROM pc pa CROSS JOIN pc pb WHERE pa.col <> pb.col)
       SELECT p.col_a, p.col_b, p.n_a,
              CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
              CASE WHEN p.n_a > 0
                   THEN (coalesce(sh.n_shared, 0) * 1000000) // p.n_a
              END AS containment_micro,
              coalesce(sh.n_shared, 0) = p.n_a AND p.n_a > 0 AS contained
       FROM pairs p LEFT JOIN sh ON p.col_a = sh.col_a AND p.col_b = sh.col_b""",
)
def inclusion_discovery_lineitem(spark, sf_dir):
    """All-ordered-pairs IND discovery (checks/fd.py:
    inclusion_discovery, the Binder/De Marchi shape) over three
    lineitem key columns: ONE long distinct table self-joined on value
    answers every pair from one job bounded by Σ distincts — never
    #columns² scans. The data measures a real chain: l_linenumber
    {1..7} ⊂ l_suppkey {0..99} ⊂ l_partkey {0..1999}, with the reverse
    directions failing at exact micro shares."""
    from xmlschemavalidator_spark.checks.fd import inclusion_discovery

    li = _t(spark, sf_dir, "lineitem")
    return inclusion_discovery(li, ["l_linenumber", "l_suppkey", "l_partkey"])


from xmlschemavalidator_spark.weburl import (  # noqa: E402
    feed_entries_sql,
    feed_links_sql,
)

_PLANT_FEED_HTML = """'<html><head>'
  || CASE WHEN doc_id % 3 = 0
     THEN '<link rel="alternate" type="application/rss+xml" href="/feed'
          || CAST(doc_id % 5 AS STRING) || '.xml">' ELSE '' END
  || CASE WHEN doc_id % 6 = 0
     THEN '<link href="/atom.xml" type="application/atom+xml">' ELSE '' END
  || '<link rel="stylesheet" type="text/css" href="/s.css"></head></html>'"""

_PLANT_FEED_XML = """CASE WHEN doc_id % 2 = 0 THEN
  '<rss version="2.0"><channel><title>chan</title>'
  || '<item><title><![CDATA[Post ' || CAST(doc_id AS STRING)
  || ']]></title><link> https://f' || CAST(doc_id % 9 AS STRING)
  || '.example/p' || CAST(doc_id AS STRING) || ' </link>'
  || CASE WHEN doc_id % 4 = 0
     THEN '<pubDate>Mon, 0' || CAST(doc_id % 7 + 1 AS STRING)
          || ' Jan 2026 08:00:00 GMT</pubDate>' ELSE '' END
  || '<guid>g' || CAST(doc_id AS STRING) || '</guid></item>'
  || '<item><title>orphan: no link no id</title></item>'
  || '</channel></rss>'
ELSE
  '<feed><entry><title>Atom ' || CAST(doc_id AS STRING)
  || '</title><link rel="alternate" href="https://f'
  || CAST(doc_id % 9 AS STRING) || '.example/e' || CAST(doc_id AS STRING)
  || '"/><updated>2026-01-0' || CAST(doc_id % 9 + 1 AS STRING)
  || 'T00:00:00Z</updated><id>urn:e' || CAST(doc_id AS STRING)
  || '</id></entry></feed>'
END"""


@q(
    "feed_discovery_links",
    f"""WITH t AS (SELECT doc_id, {_PLANT_FEED_HTML} AS html FROM documents)
       SELECT doc_id, unnest({feed_links_sql('html')}) AS feed_url FROM t""",
)
def feed_discovery_links(spark, sf_dir):
    """Feed discovery (weburl.py:feed_links): declared RSS/Atom
    alternates from page heads — the type attribute discriminates, both
    attribute orders planted, the stylesheet link never matches. The
    freshness-crawl frontier seed beside robots Sitemap: discovery.
    One projection + one Generate."""
    from xmlschemavalidator_spark.weburl import feed_links

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PLANT_FEED_HTML).alias("html")
    )
    return docs.select(
        "doc_id", F.explode(feed_links(F.col("html"))).alias("feed_url")
    )


@q(
    "feed_entry_harvest",
    f"""WITH t AS (SELECT doc_id, {_PLANT_FEED_XML} AS xml FROM documents)
       SELECT doc_id, e.feed_format, e.title, e.link, e.published, e.entry_id
       FROM (SELECT doc_id, unnest({feed_entries_sql('xml')}) AS e FROM t)""",
)
def feed_entry_harvest(spark, sf_dir):
    """RSS/Atom entry harvest (weburl.py:feed_entries) — feeds say
    what's NEW, with timestamps and titles: per doc a planted feed
    (rss with CDATA title, ws-padded link, conditional pubDate, and an
    entry with neither link nor id that must drop; atom with href
    link/updated/id). One projection + one Generate, no XML parser;
    regexes shared verbatim with the oracle."""
    from xmlschemavalidator_spark.weburl import feed_entries

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PLANT_FEED_XML).alias("xml")
    )
    return feed_entries(docs, "xml").select(
        "doc_id", "feed_format", "title", "link", "published", "entry_id"
    )


_CDC_CHUNKS_SQL = """\
WITH toks AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text),
                         '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS arr
              FROM documents WHERE text IS NOT NULL),
     t AS (SELECT doc_id, unnest(arr) AS tok,
                  generate_subscripts(arr, 1) - 1 AS pos
           FROM toks),
     a AS (SELECT *, CASE WHEN CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                               % 16 = 0 THEN 1 ELSE 0 END AS anc
           FROM t),
     c AS (SELECT *, sum(anc) OVER (PARTITION BY doc_id ORDER BY pos) AS cid
           FROM a),
     g AS (SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY pos) AS chunk,
                  CAST(count(*) AS BIGINT) AS n_tokens
           FROM c GROUP BY 1, 2),
     r AS (SELECT doc_id AS doc,
                  CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY cid)
                       - 1 AS BIGINT) AS chunk_idx,
                  n_tokens, md5(chunk) AS chunk_md5
           FROM g)"""


@q("cdc_chunk_rows", _CDC_CHUNKS_SQL + "\nSELECT doc, chunk_idx, n_tokens, chunk_md5 FROM r")
def cdc_chunk_rows(spark, sf_dir):
    """Content-defined chunking (dedup.py:cdc_chunks, the LBFS/FastCDC
    idea on token anchors): chunk boundaries are a property of the
    CONTENT (portable-hash anchors, divisor 16), so an insertion shifts
    every fixed k-token window but leaves every chunk outside the edit
    byte-identical — disjoint chunks, ~n/16 hashes per doc vs n window
    hashes. Pure HOF array work, no explode-then-window, no shuffle;
    only (doc, idx, n_tokens, md5) leave the projection. The oracle
    computes the SAME chunks through an explode+window formulation —
    two independent plans, one answer."""
    from xmlschemavalidator_spark.dedup import cdc_chunks

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return cdc_chunks(docs, divisor=16)


@q(
    "cdc_duplicate_chunks",
    _CDC_CHUNKS_SQL
    + """,
     pd AS (SELECT chunk_md5, doc, CAST(count(*) AS BIGINT) AS n,
                   max(n_tokens) AS t
            FROM r GROUP BY 1, 2)
       SELECT chunk_md5, CAST(max(t) AS BIGINT) AS n_tokens,
              CAST(sum(n) AS BIGINT) AS n_copies,
              CAST(count(*) AS BIGINT) AS n_docs
       FROM pd GROUP BY 1 HAVING sum(n) >= 2""",
)
def cdc_duplicate_chunks_q(spark, sf_dir):
    """Cross-corpus duplicated CDC chunks (dedup.py:
    cdc_duplicate_chunks): the corpus's planted duplicate documents
    collide on every shared chunk — the cheap disjoint-chunk sibling of
    ExactSubstr's all-windows pass for storage-style dedup and
    shard-delta detection. Two stacked partial-aggregatable groupBys;
    the shuffle carries (md5, doc, count), never text."""
    from xmlschemavalidator_spark.dedup import cdc_duplicate_chunks

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return cdc_duplicate_chunks(docs, divisor=16)


_PLANT_RFC_URL = """concat('http://site', CAST(doc_id % 3 AS STRING), '.com/',
  CASE doc_id % 5 WHEN 0 THEN concat('private/press/r', CAST(doc_id AS STRING))
       WHEN 1 THEN 'private/x' WHEN 2 THEN 'tmp/file'
       WHEN 3 THEN 'pub' ELSE 'g' END)"""

_PLANT_RFC_TXT = """concat('User-agent: *', chr(10),
  'Disallow: /private', chr(10), 'Allow: /private/press', chr(10),
  'Disallow: /tmp', chr(10), 'Allow: /tmp')"""

_RFC_HOSTS_SQL = (
    "SELECT DISTINCT concat('site', CAST(doc_id % 3 AS STRING), '.com') AS host "
    "FROM documents WHERE doc_id % 3 < 2"
)


def _robots_rfc_oracle() -> str:
    from xmlschemavalidator_spark.weburl import (
        canonical_host_sql,
        canonical_url_sql,
        robots_allow_prefixes_sql,
        robots_decision_sql,
        robots_disallow_prefixes_sql,
        robots_url_path_sql,
    )

    return f"""WITH d AS (SELECT doc_id, {_PLANT_RFC_URL} AS url FROM documents),
        hosts AS ({_RFC_HOSTS_SQL}),
        rules AS (SELECT host,
                    {robots_disallow_prefixes_sql(_PLANT_RFC_TXT)} AS dis,
                    {robots_allow_prefixes_sql(_PLANT_RFC_TXT)} AS alw
                  FROM hosts),
        j AS (SELECT d.doc_id, d.url,
                     {robots_url_path_sql('d.url')} AS pq,
                     rules.dis, rules.alw
              FROM d LEFT JOIN rules
                ON {canonical_host_sql(canonical_url_sql('d.url'))} = rules.host)
        SELECT doc_id, url FROM j
        WHERE NOT coalesce({robots_decision_sql('pq', 'dis', 'alw')}, FALSE)"""


@q("robots_filter_rfc_kept", _robots_rfc_oracle())
def robots_filter_rfc_kept(spark, sf_dir):
    """Full RFC 9309 §2.2.2 robots precedence (weburl.py:
    robots_filter_rfc): Allow: carve-outs honored with longest-match-
    wins — '/private/press/*' survives under 'Disallow: /private' +
    'Allow: /private/press', and the planted exact-length tie
    ('Disallow: /tmp' + 'Allow: /tmp') resolves to Allow per spec.
    The Disallow-only robots_filter_kept would drop both. Same scale
    shape: host equi-join + bounded per-host HOF decision."""
    from xmlschemavalidator_spark.weburl import robots_filter_rfc

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PLANT_RFC_URL).alias("url")
    )
    hosts = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 < 2)
        .select(
            F.concat(
                F.lit("site"), (F.col("doc_id") % 3).cast("string"),
                F.lit(".com"),
            ).alias("host")
        )
        .distinct()
    )
    robots = hosts.withColumn("robots_txt", F.expr(_PLANT_RFC_TXT))
    return robots_filter_rfc(docs, "url", robots)


def _rake_oracle() -> str:
    from xmlschemavalidator_spark.textops import RAKE_STOPWORDS

    swl = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    return f"""WITH c AS (SELECT doc_id AS doc,
                lower(regexp_replace(text,
                    '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]+', ' | ', 'g')) AS t
             FROM documents WHERE text IS NOT NULL),
       tok AS (SELECT doc,
                 list_filter(regexp_split_to_array(trim(t),
                     '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS arr
               FROM c),
       mk AS (SELECT doc, list_transform(arr,
                 x -> CASE WHEN x IN ({swl}) OR x = '|' THEN '|' ELSE x END)
                 AS arr
              FROM tok),
       ph AS (SELECT doc, list_filter(
                 list_transform(string_split(array_to_string(arr, ' '), '|'),
                                p -> trim(p)),
                 p -> p <> '' AND len(string_split(p, ' ')) <= 4) AS phrases
              FROM mk),
       cand AS (SELECT doc, unnest(phrases) AS phrase,
                       generate_subscripts(phrases, 1) AS pidx
                FROM ph),
       words AS (SELECT doc, pidx, phrase,
                        CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
                        unnest(string_split(phrase, ' ')) AS word
                 FROM cand),
       ws AS (SELECT doc, word, CAST(count(*) AS BIGINT) AS freq,
                     CAST(sum(plen) AS BIGINT) AS deg
              FROM words GROUP BY 1, 2),
       sc AS (SELECT w.doc, w.pidx, w.phrase, max(w.plen) AS plen,
                     CAST(sum((ws.deg * 1000000) // ws.freq) AS BIGINT) AS psc
              FROM words w JOIN ws ON w.doc = ws.doc AND w.word = ws.word
              GROUP BY 1, 2, 3),
       dedup AS (SELECT doc, phrase, max(plen) AS n_tokens,
                        max(psc) AS score_micro
                 FROM sc GROUP BY 1, 2),
       rk AS (SELECT *, row_number() OVER (PARTITION BY doc
                        ORDER BY score_micro DESC, phrase) AS rank
              FROM dedup)
       SELECT doc, phrase, n_tokens, score_micro, rank
       FROM rk WHERE rank <= 3"""


@q("rake_keywords_top3", _rake_oracle())
def rake_keywords_top3(spark, sf_dir):
    """RAKE keyword extraction (textops.py:rake_keywords, Rose et al.
    2010) — top-3 phrases per document: candidates are the runs between
    stopwords/punctuation, words score degree/freq over the doc's own
    candidate multiset (integer micros — degree·10⁶ div freq), phrases
    sum their words. The no-corpus-pass member of the keyword family
    beside tfidf_top_terms and token_pmi_topk: everything keys by doc,
    the ideal 100 TB shape."""
    from xmlschemavalidator_spark.textops import rake_keywords

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return rake_keywords(docs, k=3)


_PLANT_ENTITY_TEXT = """concat(text, ' Published ',
  CASE doc_id % 3
       WHEN 0 THEN concat('2024-0', CAST(doc_id % 9 + 1 AS STRING), '-15')
       WHEN 1 THEN concat(CAST(doc_id % 12 + 1 AS STRING), '/7/2023')
       ELSE concat('March ', CAST(doc_id % 28 + 1 AS STRING), ', 2025') END,
  CASE WHEN doc_id % 4 = 0
       THEN concat(' price $', CAST(doc_id % 90 + 1 AS STRING), ',999.99')
       ELSE '' END,
  CASE WHEN doc_id % 5 = 0 THEN ' cheap $7' ELSE '' END,
  CASE WHEN doc_id % 7 = 0 THEN ' junk $12.345' ELSE '' END)"""


def _entity_dates_oracle() -> str:
    from xmlschemavalidator_spark.textops import extract_dates_sql

    return (
        f"WITH p AS (SELECT doc_id, {_PLANT_ENTITY_TEXT} AS t FROM documents "
        f"WHERE text IS NOT NULL) "
        f"SELECT doc_id, unnest({extract_dates_sql('t')}) AS date_iso FROM p"
    )


@q("entity_dates_harvest", _entity_dates_oracle())
def entity_dates_harvest(spark, sf_dir):
    """Typed-entity harvest, dates (textops.py:extract_dates) — the
    affirmative sibling of the PII scanner: every ISO / US m/d/yyyy /
    'Month d, yyyy' mention normalized to one canonical yyyy-mm-dd
    (publication-date recovery where no HTTP header survived; dedup
    tie-break input). Range-checked regexes reject 2024-13-40 shapes;
    month names decode through a fixed when-chain shared with the
    oracle. One projection + one Generate."""
    from xmlschemavalidator_spark.textops import extract_dates

    p = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", F.expr(_PLANT_ENTITY_TEXT).alias("t")
    )
    return p.select(
        "doc_id", F.explode(extract_dates(F.col("t"))).alias("date_iso")
    )


def _entity_money_oracle() -> str:
    from xmlschemavalidator_spark.textops import extract_money_cents_sql

    return (
        f"WITH p AS (SELECT doc_id, {_PLANT_ENTITY_TEXT} AS t FROM documents "
        f"WHERE text IS NOT NULL) "
        f"SELECT doc_id, unnest({extract_money_cents_sql('t')}) AS amount_cents "
        f"FROM p"
    )


@q("entity_money_harvest", _entity_money_oracle())
def entity_money_harvest(spark, sf_dir):
    """Typed-entity harvest, money (textops.py:extract_money_cents):
    $-amounts as exact integer cents — '$90,999.99' and the bare
    '$7' normalize into one unit space; the planted malformed '$12.345'
    is FILTERED by the RE2-safe trailing-junk group (no lookahead in
    DuckDB), never half-parsed as $12. One projection + one Generate."""
    from xmlschemavalidator_spark.textops import extract_money_cents

    p = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", F.expr(_PLANT_ENTITY_TEXT).alias("t")
    )
    return p.select(
        "doc_id", F.explode(extract_money_cents(F.col("t"))).alias("amount_cents")
    )


@q(
    "zipf_alpha_tokens",
    """WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array(
                       trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                       x -> x <> '')) AS t
               FROM documents WHERE text IS NOT NULL),
       f AS (SELECT CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY t),
       b AS (SELECT CAST(floor(ln(CAST(freq AS DOUBLE) / 1.5) * 1000000)
                         AS BIGINT) AS l
             FROM f WHERE freq >= 2)
       SELECT CAST(count(*) AS BIGINT) AS n, CAST(2 AS INTEGER) AS kmin,
              CAST(coalesce(sum(l), 0) AS BIGINT) AS sum_ln_micro,
              round(CASE WHEN coalesce(sum(l), 0) > 0
                    THEN 1.0 + CAST(count(*) AS DOUBLE)
                         / (CAST(sum(l) AS DOUBLE) / 1000000.0) END, 6) AS alpha
       FROM b""",
)
def zipf_alpha_tokens(spark, sf_dir):
    """Zipf exponent of the corpus token-frequency distribution
    (weburl.py:powerlaw_alpha applied to word counts, kmin=2 — hapaxes
    carry no tail information): natural language sits near α≈2; a far
    drift flags templated/generated text at corpus level the way the
    link-graph alpha flags link farms. One explode + one bounded
    groupBy + the micro-quantized ln sum."""
    from xmlschemavalidator_spark.textops import tokens
    from xmlschemavalidator_spark.weburl import powerlaw_alpha

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = docs.select(
        F.explode(
            F.filter(tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 0)
        ).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    return powerlaw_alpha(freq, "freq", kmin=2)


def _benford_money_oracle() -> str:
    from xmlschemavalidator_spark.textops import extract_money_cents_sql

    return f"""WITH p AS (SELECT doc_id, {_PLANT_ENTITY_TEXT} AS t FROM documents
                    WHERE text IS NOT NULL),
       amt AS (SELECT unnest({extract_money_cents_sql('t')}) AS cents FROM p),
       m AS (SELECT CAST(floor(cents * 100) AS BIGINT) AS m
             FROM amt WHERE cents IS NOT NULL AND cents < 9.0e15),
       c AS (SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                    count(*) AS n
             FROM m WHERE m > 0 GROUP BY 1),
       e(digit, expected_micro) AS (VALUES
           (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
           (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
       j AS (SELECT e.digit,
                    CAST(coalesce(c.n, 0) AS BIGINT) AS n,
                    CAST(e.expected_micro AS BIGINT) AS expected_micro
             FROM e LEFT JOIN c ON e.digit = c.digit),
       s AS (SELECT digit, n,
                    CASE WHEN sum(n) OVER () > 0
                         THEN (n * 1000000) // sum(n) OVER ()
                         ELSE CAST(0 AS BIGINT) END AS share_micro,
                    expected_micro
             FROM j)
       SELECT digit, n, share_micro, expected_micro,
              abs(share_micro - expected_micro) AS dev_micro
       FROM s ORDER BY digit"""


@q("benford_money_mentions", _benford_money_oracle())
def benford_money_mentions(spark, sf_dir):
    """META composition: Benford first-digit audit (checks/drift.py)
    over the HARVESTED money mentions (textops.extract_money_cents) —
    the fraud/fabrication smell test applied to what pages claim prices
    are. The planted synthetic amounts measurably fail Benford (uniform
    leading digits + a $7 spike), exactly what the audit exists to
    flag: two independently oracle-exact operators composed, the
    dedup_method_evaluation pattern."""
    from xmlschemavalidator_spark.checks.drift import benford_first_digit
    from xmlschemavalidator_spark.textops import extract_money_cents

    p = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        F.expr(_PLANT_ENTITY_TEXT).alias("t")
    )
    amt = p.select(
        F.explode(extract_money_cents(F.col("t"))).alias("cents")
    )
    return benford_first_digit(amt, "cents")


_PLANT_HOMOGLYPH_TEXT = """concat(text,
  CASE WHEN doc_id % 6 = 0 THEN ' visit pаypal today'
       WHEN doc_id % 6 = 1 THEN ' contact Μicrosoft support'
       ELSE '' END)"""


def _mixed_script_oracle() -> str:
    from xmlschemavalidator_spark.textops import mixed_script_words_sql

    s = mixed_script_words_sql("t")
    cols = ", ".join(f"{sql} AS {k}" for k, sql in s.items())
    return (
        f"WITH p AS (SELECT doc_id, {_PLANT_HOMOGLYPH_TEXT} AS t FROM documents "
        f"WHERE text IS NOT NULL) SELECT doc_id, {cols} FROM p"
    )


@q("mixed_script_homoglyphs", _mixed_script_oracle())
def mixed_script_homoglyphs(spark, sf_dir):
    """Word-level mixed-script detection (textops.py:mixed_script_words,
    Unicode TR#39 confusables) — the homoglyph-spoof signal the per-doc
    script fractions dilute away: a 99%-Latin page carrying one
    'pаypal' with a Cyrillic а fires here and nowhere else. Planted
    Cyrillic-а and Greek-Μ words on 2 of 6 docs; pure-Latin text never
    fires. One prefix-capped HOF projection."""
    from xmlschemavalidator_spark.textops import mixed_script_words

    p = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", F.expr(_PLANT_HOMOGLYPH_TEXT).alias("t")
    )
    sig = mixed_script_words(F.col("t"))
    return p.select("doc_id", *(c.alias(k) for k, c in sig.items()))


def _cofire_oracle() -> str:
    sqls = _documents_ruleset_v2().compile_sql()
    rids = sorted(sqls)
    parts = ["CAST(count(*) AS BIGINT) AS n_rows"]
    for i, r in enumerate(rids):
        parts.append(
            f"CAST(sum(CASE WHEN NOT coalesce(({sqls[r]}), FALSE) "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS f_{i}"
        )
    arms = []
    for i in range(len(rids)):
        for j in range(i + 1, len(rids)):
            parts.append(
                f"CAST(sum(CASE WHEN NOT coalesce(({sqls[rids[i]]}), FALSE) "
                f"AND NOT coalesce(({sqls[rids[j]]}), FALSE) "
                f"THEN 1 ELSE 0 END) AS BIGINT) AS b_{i}_{j}"
            )
            arms.append(
                f"SELECT '{rids[i]}' AS rule_a, '{rids[j]}' AS rule_b, "
                f"n_rows, f_{i} AS n_fail_a, f_{j} AS n_fail_b, "
                f"b_{i}_{j} AS n_both FROM a"
            )
    return f"""WITH a AS (SELECT {', '.join(parts)} FROM documents),
       l AS ({' UNION ALL '.join(arms)})
       SELECT rule_a, rule_b, n_rows, n_fail_a, n_fail_b, n_both,
              CASE WHEN (n_fail_a + n_fail_b - n_both) > 0
                   THEN (n_both * 1000000) // (n_fail_a + n_fail_b - n_both)
              END AS jaccard_micro,
              CASE WHEN n_fail_a > 0 THEN (n_both * 1000000) // n_fail_a
              END AS conf_a_to_b_micro,
              CASE WHEN n_fail_b > 0 THEN (n_both * 1000000) // n_fail_b
              END AS conf_b_to_a_micro
       FROM l"""


@q("rule_cofire_matrix", _cofire_oracle())
def rule_cofire_matrix(spark, sf_dir):
    """Rule co-violation matrix (engine.py:rule_cofire) over the v2
    documents contract — the redundancy/causality view: failure-set
    Jaccard and both implication confidences per rule pair, from the
    engine's standard ONE aggregate (k + k(k−1)/2 indicator sums reach
    the shuffle as one row per partition; the pair table is stack()ed
    from that single row, never a join). The v2 rules' measured mixed
    rates give real overlap structure, not all-zeros."""
    from xmlschemavalidator_spark.engine import rule_cofire

    return rule_cofire(_t(spark, sf_dir, "documents"), _documents_ruleset_v2())


_PLANT_PCT_URL = """concat('https://ex', CAST(doc_id % 5 AS STRING), '.com/',
  CASE doc_id % 4 WHEN 0 THEN concat('%7Euser', CAST(doc_id % 20 AS STRING))
       WHEN 1 THEN concat('%7euser', CAST(doc_id % 20 AS STRING))
       WHEN 2 THEN concat('~user', CAST(doc_id % 20 AS STRING))
       ELSE concat('a%2Fb', CAST(doc_id % 20 AS STRING)) END)"""


def _pct_oracle() -> str:
    from xmlschemavalidator_spark.weburl import canonical_url_sql, pct_normalize_sql

    norm = pct_normalize_sql("u")
    return f"""WITH p AS (SELECT doc_id, {_PLANT_PCT_URL} AS u FROM documents)
       SELECT doc_id, u AS url, {norm} AS pct_normalized,
              {canonical_url_sql(norm)} AS canonical_url
       FROM p"""


@q("url_pct_normalize", _pct_oracle())
def url_pct_normalize(spark, sf_dir):
    """RFC 3986 §6.2.2.2 percent-encoding normalization (weburl.py:
    pct_normalize): unreserved escapes decode ('%7Euser' and '%7euser'
    and '~user' meet in ONE canonical dedup key — 3 of every 4 planted
    variants collapse), reserved escapes (%2F) stay untouched because
    decoding them would change the URL's meaning. The replace table is
    generated from the unreserved set itself (the mojibake-table
    convention); composed ahead of canonical_url. One narrow
    projection."""
    from xmlschemavalidator_spark.weburl import canonical_url, pct_normalize

    p = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PLANT_PCT_URL).alias("url")
    )
    norm = pct_normalize(F.col("url"))
    return p.select(
        "doc_id",
        "url",
        norm.alias("pct_normalized"),
        canonical_url(norm).alias("canonical_url"),
    )


def _lang_confusion_oracle() -> str:
    base = _lang_model_oracle()
    tail = (
        "SELECT doc, lang AS lang_pred, CAST(score AS BIGINT) AS score_micro\n"
        "FROM r WHERE rn = 1"
    )
    assert tail in base, "lang model oracle tail changed; update the wrapper"
    return base.replace(
        tail,
        """, pred AS (SELECT doc, lang AS lang_pred FROM r WHERE rn = 1)
SELECT d.lang AS declared_lang, pred.lang_pred,
       CAST(count(*) AS BIGINT) AS n
FROM pred JOIN documents d ON pred.doc = d.doc_id
GROUP BY 1, 2""",
    )


@q("lang_confusion_matrix", _lang_confusion_oracle())
def lang_confusion_matrix(spark, sf_dir):
    """Confusion matrix of the trained language classifier against the
    declared labels — the evaluation view on top of lang_model_predict
    (whose oracle already replays training+scoring+argmax exactly; this
    wraps ONE more groupBy): (declared_lang, lang_pred, n) cells expose
    WHICH languages the classifier confuses, the drill-down a held-out
    accuracy scalar hides. Diagonal-heavy by construction on the
    planted-marker corpus."""
    from xmlschemavalidator_spark.lang_model import predict_lang, train_lang_model

    docs = _t(spark, sf_dir, "documents")
    marker = None
    for lg, m in sorted(_LANG_MARKERS.items()):
        marker = (
            F.when(F.col("lang") == lg, F.lit(m))
            if marker is None
            else marker.when(F.col("lang") == lg, F.lit(m))
        )
    marker = marker.otherwise(F.lit(""))
    aug = docs.select(
        "doc_id", "lang",
        F.concat(marker, F.coalesce(F.col("text"), F.lit(""))).alias("text"),
    )
    model = train_lang_model(
        aug, "doc_id", "lang",
        n_buckets=_LANG_NB_BUCKETS, max_chars=_LANG_NB_MAXCHARS,
    )
    pred = predict_lang(aug, model, "doc_id").select("doc", "lang_pred")
    return (
        pred.join(docs.select(F.col("doc_id").alias("doc"), "lang"), "doc")
        .groupBy(F.col("lang").alias("declared_lang"), "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _textrank_oracle() -> str:
    from xmlschemavalidator_spark.textops import textrank_oracle_sql

    return textrank_oracle_sql(k=20, window=2, iterations=8)


@q("textrank_keywords_top20", _textrank_oracle())
def textrank_keywords_top20(spark, sf_dir):
    """TextRank corpus keywords (textops.py:textrank_keywords, Mihalcea
    & Tarau EMNLP'04) — the GRAPH member of the keyword family: words
    vote for co-occurring words via PageRank over the window-2
    co-occurrence graph, composing weburl.pagerank's integer micro-unit
    iteration verbatim. The oracle replays edge extraction AND all 8
    rank iterations as an unrolled CTE — hash-exact, no float anywhere.
    Scale shape: text never shuffles (the exchange carries word pairs,
    distinct-collapsed map-side); the graph is vocab-bounded, so the
    iteration cost is independent of corpus row count."""
    from xmlschemavalidator_spark.textops import textrank_keywords

    docs = _t(spark, sf_dir, "documents")
    return textrank_keywords(docs, k=20, window=2, iterations=8)


_MOD_N = "(SELECT doc_id % 80 AS n FROM documents)"
_MOD_EDGES_SQL = (
    f"SELECT n AS src, (n - (n % 20)) + ((n % 20) + 1) % 20 AS dst FROM {_MOD_N}"
    f" UNION ALL SELECT n, (n - (n % 20)) + ((n % 20) + 7) % 20 FROM {_MOD_N}"
    f" UNION ALL SELECT n, (n + 20) % 80 FROM {_MOD_N} WHERE n % 20 = 0"
)


def _mod_edges(spark, sf_dir):
    """Planted 4-block community graph over doc ids: 80 nodes in blocks
    of 20, each a ring plus a +7 chord (diameter ~3), one bridge per
    block — LPA finds the blocks, the bridges keep it honest."""
    n = _t(spark, sf_dir, "documents").select((F.col("doc_id") % 80).alias("n"))
    base = F.col("n") - F.col("n") % 20
    ring = n.select(F.col("n").alias("src"), (base + (F.col("n") % 20 + 1) % 20).alias("dst"))
    chord = n.select(F.col("n").alias("src"), (base + (F.col("n") % 20 + 7) % 20).alias("dst"))
    bridge = n.where(F.col("n") % 20 == 0).select(
        F.col("n").alias("src"), ((F.col("n") + 20) % 80).alias("dst")
    )
    return ring.unionByName(chord).unionByName(bridge)


def _modularity_oracle() -> str:
    from xmlschemavalidator_spark.weburl import (
        label_propagation_oracle_sql,
        modularity_oracle_sql,
    )

    return modularity_oracle_sql(
        _MOD_EDGES_SQL,
        label_propagation_oracle_sql(_MOD_EDGES_SQL, iterations=4),
    )


@q("link_modularity_lpa", _modularity_oracle())
def link_modularity_lpa(spark, sf_dir):
    """Newman modularity of the LPA partition (weburl.py:modularity,
    Newman & Girvan PRE'04) — the quality verdict LPA itself can't give:
    per-community L_c/m and (D_c/2m)² floored separately as nonneg
    integer micros (negative values never meet a division — Spark div
    truncates, DuckDB // floors; they only agree on nonnegs), q_micro
    their difference. The oracle replays LPA's 4 unrolled rounds AND
    the modularity arithmetic in one statement. Scale shape: one
    distinct over edges reused thrice, then label-keyed partial aggs —
    output bounded by #communities."""
    from xmlschemavalidator_spark.weburl import label_propagation, modularity

    edges = _mod_edges(spark, sf_dir)
    labels = label_propagation(edges, iterations=4)
    return modularity(edges, labels)


def _burrows_oracle() -> str:
    from xmlschemavalidator_spark.textops import burrows_delta_oracle_sql

    return burrows_delta_oracle_sql(top_words=30)


@q("stylometry_burrows_delta", _burrows_oracle())
def stylometry_burrows_delta(spark, sf_dir):
    """Burrows' Delta stylometric attribution (textops.py:
    burrows_delta_attribution, Burrows LLC'02) — same-template/same-
    author detection from function-word frequencies: z-score each doc's
    micro relative frequencies of the top-30 corpus words, attribute to
    the argmin mean-|z-difference| source profile. The z-difference
    collapses to one fixed double chain over exact DECIMAL integers,
    floor-quantized before summation (order-free sums, the FS-EM
    discipline) — oracle-exact INCLUDING the doc×word lattice, variance
    filter and argmin ties. Measured at sf0.01: 19.4% self-attribution
    over 20 sources, ~4x the 5% chance line (the synthetic corpus's
    per-source vocabulary bias is mild by construction)."""
    from xmlschemavalidator_spark.textops import burrows_delta_attribution

    docs = _t(spark, sf_dir, "documents")
    return burrows_delta_attribution(docs, top_words=30)


_BURST_FROM_SQL = (
    "SELECT doc_id % 12 AS bucket, "
    "CASE WHEN doc_id % 12 >= 10 THEN text || ' breakout breakout' "
    "ELSE text END AS text FROM documents"
)


def _emerging_oracle() -> str:
    from xmlschemavalidator_spark.textops import emerging_terms_oracle_sql

    return emerging_terms_oracle_sql(
        _BURST_FROM_SQL, min_count=5, ratio_micro_min=3_000_000
    )


@q("emerging_terms_burst", _emerging_oracle())
def emerging_terms_burst(spark, sf_dir):
    """Emerging-term burst detection (textops.py:emerging_terms — the
    Kleinberg-burst-lite trending view): a term flags in a time bucket
    when its share beats its add-one-smoothed share of ALL previous
    buckets by 3x, ratio kept exact as integer micros in DECIMAL(38,0).
    Buckets are doc_id%12 pseudo-weeks with 'breakout' planted into the
    last two — the detector must find the plant and nothing else (the
    base vocabulary is stationary by construction). Scale shape: one
    explode → vocab×buckets partial agg; the cumulative-baseline
    windows run ON THE AGGREGATE, text never shuffles."""
    from xmlschemavalidator_spark.textops import emerging_terms

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 12).alias("bucket"),
        F.when(
            F.col("doc_id") % 12 >= 10,
            F.concat(F.col("text"), F.lit(" breakout breakout")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return emerging_terms(
        docs, "bucket", min_count=5, ratio_micro_min=3_000_000
    )


_CFD_RHS = (
    "CASE WHEN o_orderstatus = 'F' THEN o_orderkey % 7 "
    "ELSE o_custkey % 7 END"
)


def _cfd_planted(spark, sf_dir):
    """Planted conditional-FD corpus: rhs is a pure function of custkey
    except inside the 'F' scope, where an upstream 'corruption' makes it
    orderkey-dependent — the FD custkey → rhs holds for O and P,
    breaks for F, exactly the CFD shape."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.when(
            F.col("o_orderstatus") == "F", F.col("o_orderkey") % 7
        ).otherwise(F.col("o_custkey") % 7).alias("rhs"),
    )


@q(
    "fd_condition_scan_orders",
    f"""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                      {_CFD_RHS} AS rhs FROM orders),
pair AS (SELECT o_orderstatus AS cond, o_custkey, rhs,
                CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2, 3),
pk AS (SELECT cond, o_custkey, CAST(count(*) AS BIGINT) AS nv,
              CAST(sum(n) AS BIGINT) AS rws FROM pair GROUP BY 1, 2)
SELECT cond, CAST(count(*) AS BIGINT) AS n_lhs_groups,
       CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(sum(rws) AS BIGINT) AS n_rows,
       CAST(max(nv) AS BIGINT) AS max_rhs_values,
       CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0 AS holds
FROM pk GROUP BY cond""",
)
def fd_condition_scan_orders(spark, sf_dir):
    """Conditional-FD scope discovery (checks/fd.py:fd_condition_scan,
    Bohannon et al. ICDE'07 discovery-lite): given custkey → rhs failing
    globally, WHICH o_orderstatus values carve out a scope where it
    holds? The planted corruption lives only in 'F', so the scan reads
    holds=true for O and P and a measured violating-group count for F —
    the repair scope a global FD check cannot express. Three stacked
    partial-aggregatable groupBys, output bounded by condition values."""
    from xmlschemavalidator_spark.checks.fd import fd_condition_scan

    return fd_condition_scan(
        _cfd_planted(spark, sf_dir), "o_orderstatus", ["o_custkey"], "rhs"
    )


@q(
    "cfd_violation_rows_orders",
    f"""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                      {_CFD_RHS} AS rhs FROM orders),
s AS (SELECT * FROM t WHERE o_orderstatus = 'F'),
bad AS (SELECT o_custkey FROM (
  SELECT o_custkey, count(*) AS nv FROM (
    SELECT DISTINCT o_custkey, rhs FROM s) GROUP BY 1) WHERE nv > 1)
SELECT o_orderkey, 'cfd_F_custkey__rhs' AS rule_id,
       CAST(rhs AS VARCHAR) AS observed_value, o_custkey
FROM s WHERE o_custkey IN (SELECT o_custkey FROM bad)""",
)
def cfd_violation_rows_orders(spark, sf_dir):
    """CFD enforcement (checks/fd.py:cfd_violation_rows): violation rows
    for the variable CFD (o_orderstatus='F') ∧ custkey → rhs — the FD
    checked ONLY inside the condition scope, emitted in the engine's
    standard (id, rule_id, observed_value) shape so CFD findings flow
    into the same violations sink as facet checks. The pattern filter
    runs before the aggregate (pushed to the scan); the semi join rides
    the violations-only key set."""
    from xmlschemavalidator_spark.checks.fd import cfd_violation_rows

    return cfd_violation_rows(
        _cfd_planted(spark, sf_dir), "o_orderstatus", "F",
        ["o_custkey"], "rhs", "o_orderkey", rule_id="cfd_F_custkey__rhs",
    )


_JSON_PLANT_SQL = """CASE event_id % 7
  WHEN 0 THEN '{"k": "str", "tag": true}'
  WHEN 1 THEN '{"k": 1.5, "m": {"d": ' || CAST(event_id % 5 AS VARCHAR) || '}}'
  WHEN 2 THEN '{"k": [1, 2], "m": null}'
  WHEN 3 THEN 'not json'
  WHEN 4 THEN NULL
  ELSE props END"""

_JSON_PATHS = ["$.k", "$.tag", "$.m", "$.m.d"]


def _json_planted(spark, sf_dir):
    """Planted semi-structured payloads: the clean '{"k": int}' corpus
    with five upstream 'releases' mixed in — string-typed k, a nested
    object, an array, unparseable text, SQL NULL — every failure mode
    the JSON contract must keep distinct."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit('{"k": "str", "tag": true}'))
        .when(
            F.col("event_id") % 7 == 1,
            F.concat(
                F.lit('{"k": 1.5, "m": {"d": '),
                (F.col("event_id") % 5).cast("string"),
                F.lit("}}"),
            ),
        )
        .when(F.col("event_id") % 7 == 2, F.lit('{"k": [1, 2], "m": null}'))
        .when(F.col("event_id") % 7 == 3, F.lit("not json"))
        .when(F.col("event_id") % 7 == 4, F.lit(None).cast("string"))
        .otherwise(F.col("props"))
        .alias("props"),
    )


def _json_profile_oracle() -> str:
    from xmlschemavalidator_spark.checks.schema import json_path_profile_sql

    return json_path_profile_sql(
        f"SELECT {_JSON_PLANT_SQL} AS props FROM events", "props", _JSON_PATHS
    )


@q("json_path_type_profile", _json_profile_oracle())
def json_path_type_profile(spark, sf_dir):
    """Semi-structured path/type profiling (checks/schema.py:
    json_path_profile) — schema-on-read validation for the payload
    columns a StructType can't see: per declared JSON path, the
    normalized type-class histogram (no_value / invalid / missing /
    null / string / boolean / number / object / array — four failure
    modes kept distinct). Spark 4 VARIANT supplies real per-value
    types; the DuckDB oracle normalizes json_type() into the same
    class vocabulary, hash-exact. ONE scan: every path's class rides
    the same projection, |paths|×9-bounded output."""
    from xmlschemavalidator_spark.checks.schema import json_path_profile

    return json_path_profile(_json_planted(spark, sf_dir), "props", _JSON_PATHS)


@q(
    "json_type_check_violations",
    f"""WITH src AS (SELECT event_id, {_JSON_PLANT_SQL} AS props FROM events)
SELECT event_id, 'props_k_number' AS rule_id,
       CASE WHEN props IS NULL THEN 'no_value'
            WHEN NOT json_valid(props) THEN 'invalid'
            WHEN json_type(props, '$.k') IS NULL THEN 'missing'
            WHEN json_type(props, '$.k') = 'NULL' THEN 'null'
            WHEN json_type(props, '$.k') = 'VARCHAR' THEN 'string'
            WHEN json_type(props, '$.k') = 'BOOLEAN' THEN 'boolean'
            WHEN json_type(props, '$.k') = 'OBJECT' THEN 'object'
            WHEN json_type(props, '$.k') = 'ARRAY' THEN 'array'
            ELSE 'number' END AS observed_value
FROM src
WHERE CASE WHEN props IS NULL THEN 'no_value'
           WHEN NOT json_valid(props) THEN 'invalid'
           WHEN json_type(props, '$.k') IS NULL THEN 'missing'
           WHEN json_type(props, '$.k') = 'NULL' THEN 'null'
           WHEN json_type(props, '$.k') = 'VARCHAR' THEN 'string'
           WHEN json_type(props, '$.k') = 'BOOLEAN' THEN 'boolean'
           WHEN json_type(props, '$.k') = 'OBJECT' THEN 'object'
           WHEN json_type(props, '$.k') = 'ARRAY' THEN 'array'
           ELSE 'number' END NOT IN ('number')""",
)
def json_type_check_violations(spark, sf_dir):
    """JSON contract enforcement (checks/schema.py:json_type_check):
    '$.k must be a number' over the planted payload mix, violations in
    the engine's standard (id, rule_id, observed_value) shape with the
    offending CLASS as the observed value — string-typed k, arrays,
    unparseable text and NULL columns each surface under their own
    class. Narrow filter+projection, no shuffle."""
    from xmlschemavalidator_spark.checks.schema import json_type_check

    return json_type_check(
        _json_planted(spark, sf_dir), "props", "$.k", ("number",),
        "event_id", rule_id="props_k_number",
    )


def _spam_mass_oracle() -> str:
    from xmlschemavalidator_spark.weburl import spam_mass_oracle_sql

    return spam_mass_oracle_sql(_EDGES_SQL, trusted_seeds=[0, 7], iterations=8)


@q("link_spam_mass", _spam_mass_oracle())
def link_spam_mass(spark, sf_dir):
    """Spam mass via TrustRank (weburl.py:spam_mass, Gyöngyi et al.
    VLDB'04/'06): the fraction of each page's PageRank NOT reachable
    through the trusted seed set {0, 7} — (PR − TR)/PR with both ranks
    from the same integer micro-unit iteration, the division guarded
    into two nonnegative branches (truncate-vs-floor only agree on
    nonnegs). The oracle replays BOTH unrolled 8-iteration rank loops
    and the guarded ratio in one statement. The composition closes the
    link-spam toolkit: pagerank says who's big, trustrank says who's
    vouched for, spam mass says who's big WITHOUT being vouched for."""
    from xmlschemavalidator_spark.weburl import spam_mass

    return spam_mass(_edges(spark, sf_dir), trusted_seeds=[0, 7], iterations=8)


_CONC_RULES: dict[str, tuple] = {
    "lang_en_de": (
        Restriction(facets=(Enumeration("en"), Enumeration("de"))), "lang"
    ),
    "chars_100_400": (
        Restriction(
            base="integer", facets=(MinInclusive(100), MaxInclusive(400))
        ),
        "n_chars",
    ),
    "source_single_digit": (
        Restriction(facets=(Pattern("src[0-9]"),)), "source"
    ),
}

_CONC_VIOL_SQL = " UNION ALL ".join(
    f"SELECT doc_id, '{rid}' AS rule_id FROM documents "
    f"WHERE NOT coalesce(({rule.sql_expr(col, PREDEF_TYPES)}), FALSE)"
    for rid, (rule, col) in _CONC_RULES.items()
)


@q(
    "violation_concentration_by_source",
    f"""WITH viol AS ({_CONC_VIOL_SQL}),
counts AS (SELECT v.rule_id, d.source, CAST(count(*) AS BIGINT) AS n_viol
           FROM viol v JOIN documents d ON v.doc_id = d.doc_id
           GROUP BY 1, 2),
r AS (SELECT rule_id, source, n_viol,
        row_number() OVER (PARTITION BY rule_id ORDER BY n_viol, source) AS i,
        count(*) OVER (PARTITION BY rule_id) AS n
      FROM counts),
g AS (SELECT rule_id, CAST(max(n) AS BIGINT) AS n_sources,
             CAST(sum(n_viol) AS BIGINT) AS n_violations,
             round(CAST(sum((2 * i - n - 1) * CAST(n_viol AS HUGEINT))
                        AS DOUBLE)
                   / (CAST(max(n) AS DOUBLE)
                      * CAST(sum(n_viol) AS DOUBLE)), 6) AS gini
      FROM r GROUP BY 1),
t AS (SELECT rule_id, source AS top_source, n_viol FROM (
        SELECT *, row_number() OVER (PARTITION BY rule_id
                    ORDER BY n_viol DESC, source) AS rn FROM counts)
      WHERE rn = 1)
SELECT g.rule_id, n_sources, n_violations, top_source,
       t.n_viol * 1000000 // n_violations AS top_share_micro, gini
FROM g JOIN t ON g.rule_id = t.rule_id""",
)
def violation_concentration_by_source(spark, sf_dir):
    """Violation-concentration panel — the triage view that ties the
    validation core to the analytics layer: per rule, WHERE do the
    violations live? (n_sources carrying any, the top source and its
    integer-micro share, and the Gini of the per-source counts — Gini
    near 0 means the rule fails uniformly = a rule/schema problem,
    near 1 means one upstream source ships the breakage = a producer
    problem.) Composes validate()'s violations, one doc_id join back
    for the dimension, a counts groupBy bounded by rules×sources, and
    gini_coefficient ON THE GROUPED COUNTS (the bounded-input contract
    from its docstring) — the corpus shuffles only doc_id+rule_id.
    The 3-rule panel ruleset measurably violates on every rule at
    sf0.01 (212/183/250 rows) so the concentration readings carry
    signal; its oracle renders each rule's OWN sql_expr."""
    from xmlschemavalidator_spark.checks.stats import gini_coefficient
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    rs = RuleSet(
        rules=[
            FieldRule(rid, rule, column=col)
            for rid, (rule, col) in _CONC_RULES.items()
        ]
    )
    v = validate(docs, rs, key="doc_id").violations
    counts = (
        v.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("rule_id", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_viol"))
        .localCheckpoint()
    )
    g = gini_coefficient(counts, "n_viol", "source", ("rule_id",))
    wr = Window.partitionBy("rule_id").orderBy(
        F.col("n_viol").desc(), F.col("source").asc()
    )
    top = (
        counts.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "rule_id", F.col("source").alias("top_source"),
            F.col("n_viol").alias("_tn"),
        )
    )
    return g.join(top, "rule_id").select(
        "rule_id",
        F.col("n").alias("n_sources"),
        F.col("total_q").alias("n_violations"),
        "top_source",
        F.expr("_tn * 1000000 div total_q").alias("top_share_micro"),
        "gini",
    )


def _wq_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import weighted_quantile_oracle_sql

    return weighted_quantile_oracle_sql(
        "SELECT doc_id, lang, n_chars FROM documents",
        "n_chars", "n_chars", "doc_id",
        qs_pct=(25, 50, 75), group_cols=("lang",),
    )


@q("weighted_quantile_mass_per_lang", _wq_oracle())
def weighted_quantile_mass_per_lang(spark, sf_dir):
    """Exact weighted quantiles (checks/stats.py:weighted_quantile) —
    per-language document length weighted BY length: the plain median
    answers 'the middle doc', this answers 'the middle BYTE' (where
    half the corpus mass sits — the skew question storage/budget
    planning actually asks; a language whose mass-median far exceeds
    its doc-median is carried by few giant pages). Weights quantize to
    integer micros up front so the crossing test is pure DECIMAL
    comparison; all three quantiles ride ONE window pass, exactly one
    crossing row each, oracle-exact."""
    from xmlschemavalidator_spark.checks.stats import weighted_quantile

    docs = _t(spark, sf_dir, "documents")
    return weighted_quantile(
        docs, "n_chars", "n_chars", "doc_id",
        qs_pct=(25, 50, 75), group_cols=("lang",),
    )


# ===========================================================================
# semantic type inference (checks/semantic.py)
# ===========================================================================

_SEMANTIC_STAGED_SQL = """SELECT
  CAST(event_id AS VARCHAR) AS id_str,
  strftime(ts, '%Y-%m-%d') AS date_str,
  strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_str,
  (CASE WHEN event_id % 2 = 0 THEN '-' ELSE '' END)
    || CAST(user_id % 1000 AS VARCHAR) || '.'
    || CAST(event_id % 100 AS VARCHAR) AS dec_str,
  event_type AS type_str,
  md5(CAST(event_id AS VARCHAR)) AS hash_str,
  substr(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-'
    || substr(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-'
    || substr(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-'
    || substr(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-'
    || substr(md5(CAST(event_id AS VARCHAR)), 21, 12) AS uuid_str,
  event_type || '.' || CAST(user_id % 500 AS VARCHAR)
    || '@example.com' AS email_str,
  CAST(user_id % 223 + 1 AS VARCHAR) || '.'
    || CAST(event_id % 256 AS VARCHAR) || '.'
    || CAST(user_id % 256 AS VARCHAR) || '.'
    || CAST(event_id * 7 % 256 AS VARCHAR) AS ip_str,
  'https://example.com/' || event_type || '/'
    || CAST(event_id AS VARCHAR) AS url_str,
  CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'False' END AS bool_str,
  CASE WHEN event_id % 10 = 0 THEN event_type
       ELSE CAST(event_id AS VARCHAR) END AS mixed_str
FROM events"""

_SEMANTIC_COLS = [
    "id_str", "date_str", "ts_str", "dec_str", "type_str", "hash_str",
    "uuid_str", "email_str", "ip_str", "url_str", "bool_str", "mixed_str",
]


def _semantic_staged(spark, sf_dir):
    """The 'CSV landed as all-VARCHAR' staging table, built identically
    on both engines from events: one planted column per semantic class
    plus a 90/10 integer/text mix for the dominance threshold."""
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    h = F.md5(eid.cast("string"))
    return ev.select(
        eid.cast("string").alias("id_str"),
        F.date_format("ts", "yyyy-MM-dd").alias("date_str"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_str"),
        F.concat(
            F.when(eid % 2 == 0, F.lit("-")).otherwise(F.lit("")),
            (F.col("user_id") % 1000).cast("string"),
            F.lit("."),
            (eid % 100).cast("string"),
        ).alias("dec_str"),
        F.col("event_type").alias("type_str"),
        h.alias("hash_str"),
        F.concat_ws(
            "-",
            F.substring(h, 1, 8),
            F.substring(h, 9, 4),
            F.substring(h, 13, 4),
            F.substring(h, 17, 4),
            F.substring(h, 21, 12),
        ).alias("uuid_str"),
        F.concat(
            F.col("event_type"),
            F.lit("."),
            (F.col("user_id") % 500).cast("string"),
            F.lit("@example.com"),
        ).alias("email_str"),
        F.concat(
            (F.col("user_id") % 223 + 1).cast("string"),
            F.lit("."),
            (eid % 256).cast("string"),
            F.lit("."),
            (F.col("user_id") % 256).cast("string"),
            F.lit("."),
            (eid * 7 % 256).cast("string"),
        ).alias("ip_str"),
        F.concat(
            F.lit("https://example.com/"),
            F.col("event_type"),
            F.lit("/"),
            eid.cast("string"),
        ).alias("url_str"),
        F.when(eid % 2 == 0, F.lit("true"))
        .otherwise(F.lit("False"))
        .alias("bool_str"),
        F.when(eid % 10 == 0, F.col("event_type"))
        .otherwise(eid.cast("string"))
        .alias("mixed_str"),
    )


def _semantic_census_oracle() -> str:
    from xmlschemavalidator_spark.checks.semantic import (
        semantic_census_oracle_sql,
    )

    return semantic_census_oracle_sql(_SEMANTIC_STAGED_SQL, _SEMANTIC_COLS)


@q("semantic_type_census", _semantic_census_oracle())
def semantic_type_census_staged(spark, sf_dir):
    """Semantic type inference census (checks/semantic.py:
    semantic_type_census) — 'the CSV landed with every column as
    VARCHAR; what are these columns really?': the ordered first-match
    rule table (bool/integer/decimal/uuid/ipv4/email/url/iso dates/
    hex hashes) classifies 12 staged columns in ONE scan (per-row
    struct array, exploded and partially aggregated before the single
    tiny shuffle). The oracle replays the SAME rule table through
    DuckDB regexp_matches — the shared-rule-table pattern. Regexes are
    Java/RE2-portable by construction (explicit classes, no lookaround)."""
    from xmlschemavalidator_spark.checks.semantic import semantic_type_census

    return semantic_type_census(_semantic_staged(spark, sf_dir), _SEMANTIC_COLS)


def _semantic_dominant_oracle() -> str:
    from xmlschemavalidator_spark.checks.semantic import dominant_oracle_sql

    return dominant_oracle_sql(
        _SEMANTIC_STAGED_SQL, _SEMANTIC_COLS, min_share_micro=800_000
    )


@q("semantic_dominant_types", _semantic_dominant_oracle())
def semantic_dominant_types_staged(spark, sf_dir):
    """Per-column dominance verdicts (checks/semantic.py:
    dominant_semantic_types): the most frequent class among typed
    values with an integer-micro share threshold — the 90/10 mixed
    column must still read 'integer, conforming' at 800000 micro while
    the share itself exposes the 10% contamination. Window over the
    census aggregate; still one corpus scan."""
    from xmlschemavalidator_spark.checks.semantic import (
        dominant_semantic_types,
    )

    return dominant_semantic_types(
        _semantic_staged(spark, sf_dir), _SEMANTIC_COLS,
        min_share_micro=800_000,
    )


def _semantic_viol_oracle() -> str:
    from xmlschemavalidator_spark.checks.semantic import (
        semantic_violations_oracle_sql,
    )

    return semantic_violations_oracle_sql(
        "SELECT event_id, mixed_str FROM (" + _SEMANTIC_STAGED_SQL.replace(
            "CAST(event_id AS VARCHAR) AS id_str",
            "event_id, CAST(event_id AS VARCHAR) AS id_str",
        ) + ")",
        "mixed_str",
        "integer",
        "event_id",
    )


@q("semantic_violations_mixed", _semantic_viol_oracle())
def semantic_violations_mixed(spark, sf_dir):
    """Declared-type conformance (checks/semantic.py:
    semantic_type_violations): mixed_str declared integer — the planted
    10% text rows come back as the engine's standard violation rows
    (id, rule_id, observed_value). Declared-type regex, not the census
    classifier (an all-digit hash conforms to declared hex_hash).
    Narrow filter: zero shuffles."""
    from xmlschemavalidator_spark.checks.semantic import (
        semantic_type_violations,
    )

    ev = _t(spark, sf_dir, "events")
    staged = ev.select(
        "event_id",
        F.when(F.col("event_id") % 10 == 0, F.col("event_type"))
        .otherwise(F.col("event_id").cast("string"))
        .alias("mixed_str"),
    )
    return semantic_type_violations(staged, "mixed_str", "integer", "event_id")


def _species_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import species_richness_oracle_sql
    from xmlschemavalidator_spark.textops import _WS

    return species_richness_oracle_sql(
        f"""SELECT lang, w FROM (
              SELECT lang, unnest(string_split_regex(trim(coalesce(text, '')),
                     '{_WS}+')) AS w FROM documents) WHERE w <> ''""",
        "w",
        group_cols=("lang",),
    )


@q("token_vocab_coverage_per_lang", _species_oracle())
def token_vocab_coverage_per_lang(spark, sf_dir):
    """Good–Turing coverage + Chao1 vocabulary richness per language
    (checks/stats.py:species_richness): distinct_seen says what the
    crawl HAS, chao1 estimates what the language's token space HOLDS,
    coverage = 1 − singletons/n is the probability the next token is
    already known — the tokenizer-training saturation gate beside the
    vocab-coverage report panel (that one asks "does the trained vocab
    cover the corpus", this one asks "has the corpus itself converged").
    Two stacked partial aggregates, integer f1/f2, floor-quantized
    Chao1 correction — oracle-exact."""
    from xmlschemavalidator_spark.checks.stats import species_richness
    from xmlschemavalidator_spark.textops import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("w")
    ).where(F.col("w") != "")
    return species_richness(toks, "w", group_cols=("lang",))


def _heaps_oracle() -> str:
    from xmlschemavalidator_spark.textops import _WS

    return f"""WITH tok AS (
     SELECT doc_id % 4 = 0 AS sub, w FROM (
       SELECT doc_id, unnest(string_split_regex(trim(coalesce(text, '')),
              '{_WS}+')) AS w FROM documents) WHERE w <> ''),
   per AS (SELECT w, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN sub THEN 1 ELSE 0 END) AS BIGINT) AS ns
           FROM tok GROUP BY w),
   agg AS (SELECT CAST(sum(ns) AS BIGINT) AS n_tokens_sub,
                  CAST(sum(n) AS BIGINT) AS n_tokens_full,
                  CAST(sum(CASE WHEN ns > 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS vocab_sub,
                  CAST(count(*) AS BIGINT) AS vocab_full
           FROM per)
 SELECT n_tokens_sub, n_tokens_full, vocab_sub, vocab_full,
   round(CASE WHEN n_tokens_sub > 0 AND vocab_sub > 0
               AND n_tokens_full > n_tokens_sub
         THEN ln(CAST(vocab_full AS DOUBLE) / CAST(vocab_sub AS DOUBLE))
              / ln(CAST(n_tokens_full AS DOUBLE)
                   / CAST(n_tokens_sub AS DOUBLE)) END, 6) AS beta
 FROM agg"""


@q("heaps_vocab_growth", _heaps_oracle())
def heaps_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary-growth exponent (textops.py:heaps_exponent)
    over the documents corpus: the two-point fit (N_sub, V_sub) vs
    (N_full, V_full) on the deterministic doc_id%4 quarter — β near 0
    = template/generated text (vocabulary saturating), β near 1 = OCR
    noise / mixed-lang contamination minting new 'words' per page. The
    growth-rate companion to zipf_alpha_tokens (shape at one size) and
    token_vocab_coverage_per_lang (chao1: how much exists). ONE token
    shuffle, no window, oracle-exact."""
    from xmlschemavalidator_spark.textops import heaps_exponent, tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 4 == 0).alias("sub"),
        F.explode(tokens(F.col("text"))).alias("w"),
    ).where(F.col("w") != "")
    return heaps_exponent(tok, "w", "sub")


def _cramers_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import cramers_v_oracle_sql

    return cramers_v_oracle_sql("SELECT lang, source FROM documents", "lang", "source")


@q("cramers_v_lang_source", _cramers_oracle())
def cramers_v_lang_source(spark, sf_dir):
    """Cramér's V association between lang and source (checks/stats.py:
    cramers_v) — the bounded [0,1] profiling companion to the
    mutual-information analyzer: comparable ACROSS column pairs where
    MI's nats aren't, so a V≈1 pair reads directly as "one column
    derives the other" (a redundant quasi-identifier for the
    k-anonymity audit, a leaking feature for the quality model).
    Sparse-grid chi² identity — unobserved cells collapse into the
    closed-form +n correction, no r×c expansion. One scan, one cell
    groupBy, oracle-exact."""
    from xmlschemavalidator_spark.checks.stats import cramers_v

    return cramers_v(_t(spark, sf_dir, "documents"), "lang", "source")


def _prf_oracle() -> str:
    from xmlschemavalidator_spark.textops import bm25_topk_sql

    terms = sorted({t.lower() for t in _BM25_TERMS})
    not_in = ", ".join("'" + t + "'" for t in terms)
    ws = "[ \\t\\n\\x0b\\f\\r]+"
    return f"""WITH rel AS (SELECT doc FROM ({bm25_topk_sql(_BM25_TERMS, k=5)})),
toks AS (
  SELECT doc_id AS doc,
         lower(unnest(list_filter(
           regexp_split_to_array(trim(coalesce(text, '')), '{ws}'),
           x -> x <> ''))) AS term
  FROM documents),
rtf AS (SELECT term, CAST(count(*) AS BIGINT) AS rel_tf
        FROM toks JOIN rel USING (doc)
        WHERE term NOT IN ({not_in}) GROUP BY term),
dfq AS (SELECT term, CAST(count(DISTINCT doc) AS BIGINT) AS df
        FROM toks WHERE term IN (SELECT term FROM rtf) GROUP BY term),
nd AS (SELECT count(*) AS n FROM documents),
scored AS (SELECT r.term, r.rel_tf, d.df,
                  CAST(r.rel_tf * CAST(floor((ln((nd.n + 1.0) / (d.df + 1.0))
                       + 1.0) * 1000000.0) AS BIGINT) AS BIGINT)
                      AS weight_micro
           FROM rtf r JOIN dfq d USING (term) CROSS JOIN nd)
SELECT CAST(rank AS INT) AS rank, term, rel_tf, df, weight_micro FROM (
  SELECT *, row_number() OVER (ORDER BY weight_micro DESC, term ASC) AS rank
  FROM scored)
WHERE rank <= 5"""


@q("prf_query_expansion", _prf_oracle())
def prf_query_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback expansion (textops.py:
    prf_expansion_terms, Rocchio 1971 / RM3's deterministic core) for
    the standing BM25 query: BM25 top-5 docs are pseudo-relevant, every
    term they contain is Rocchio-scored rel_tf·idf_micro (integer), the
    original terms drop out, top-5 expansions emerge — the vocabulary-
    mismatch fix between first-pass retrieval and rerank, and the last
    leg of the retrieval family (BM25 → phrase → RRF hybrid → PRF).
    The r ids broadcast into the token stream; df counting shuffles
    only candidate-term pairs. Oracle replays the full chain including
    the embedded BM25 run."""
    from xmlschemavalidator_spark.textops import prf_expansion_terms

    docs = _t(spark, sf_dir, "documents")
    return prf_expansion_terms(docs, "doc_id", _BM25_TERMS, r=5, n_expand=5)


_NEYMAN_ORACLE = """WITH per AS (
  SELECT stratum, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(q) AS HUGEINT) AS s, CAST(sum(q * q) AS HUGEINT) AS ss
  FROM (SELECT lang AS stratum,
               CAST(floor(CAST(n_chars AS DOUBLE) * 1000000) AS HUGEINT) AS q
        FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL)
  GROUP BY stratum),
vv AS (SELECT *, CASE WHEN n_rows > 1 THEN greatest(
           (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              / CAST(n_rows AS DOUBLE))
           / (CAST(n_rows AS DOUBLE) - 1.0) / (1000000.0 * 1000000.0), 0.0)
         ELSE 0.0 END AS var
       FROM per),
st AS (SELECT stratum, n_rows,
         round(CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE) / 1000000.0, 6)
             AS mean,
         round(sqrt(var), 6) AS sd,
         CAST(n_rows AS HUGEINT)
           * CAST(floor(sqrt(var) * 1e6) AS HUGEINT) AS wn_raw,
         CAST(n_rows AS HUGEINT) AS wp
       FROM vv),
st2 AS (SELECT *, CASE WHEN sum(wn_raw) OVER () > 0 THEN wn_raw ELSE wp END
            AS wn FROM st),
t1 AS (SELECT *, sum(wp) OVER () AS totp, sum(wn) OVER () AS totn FROM st2),
t2 AS (SELECT *,
   CASE WHEN totp > 0 THEN 500 * wp // totp ELSE CAST(0 AS HUGEINT) END
       AS basep,
   CASE WHEN totp > 0 THEN 500 * wp - (500 * wp // totp) * totp
        ELSE CAST(0 AS HUGEINT) END AS remp,
   CASE WHEN totn > 0 THEN 500 * wn // totn ELSE CAST(0 AS HUGEINT) END
       AS basen,
   CASE WHEN totn > 0 THEN 500 * wn - (500 * wn // totn) * totn
        ELSE CAST(0 AS HUGEINT) END AS remn
   FROM t1),
t3 AS (SELECT *,
   500 - sum(basep) OVER () AS leftp,
   500 - sum(basen) OVER () AS leftn,
   row_number() OVER (ORDER BY remp DESC, stratum ASC) AS rnp,
   row_number() OVER (ORDER BY remn DESC, stratum ASC) AS rnn
   FROM t2)
SELECT stratum, n_rows, mean, sd,
  CAST(basep + CASE WHEN rnp <= leftp AND totp > 0 THEN 1 ELSE 0 END
       AS BIGINT) AS n_proportional,
  CAST(basen + CASE WHEN rnn <= leftn AND totn > 0 THEN 1 ELSE 0 END
       AS BIGINT) AS n_neyman
FROM t3"""


@q("neyman_audit_allocation", _NEYMAN_ORACLE)
def neyman_audit_allocation(spark, sf_dir):
    """Neyman-optimal audit-sampling design (sampling.py:
    neyman_allocation): how a 500-doc human-review budget should split
    across languages when the audited metric is n_chars — oversampling
    the strata where the metric VARIES (Neyman 1934's N_h·S_h rule)
    beside the naive proportional plan, their difference being the
    design gain. Fully integer Hamilton apportionment (exact div,
    largest-remainder seats, deterministic ties), so both plans sum to
    exactly 500 in any engine — the sampling-design companion to the
    deterministic samplers (which EXECUTE a plan; this one CHOOSES
    it). One scan, #strata-row windows, oracle-exact."""
    from xmlschemavalidator_spark.sampling import neyman_allocation

    docs = _t(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull() & F.col("lang").isNotNull()
    )
    return neyman_allocation(docs, "n_chars", "lang", total_n=500)


_STRAT_EST_ORACLE = """WITH pop AS (
  SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS Np
  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
keyed AS (
  SELECT doc_id, lang, n_chars,
         md5('audit' || ':' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents WHERE lang IS NOT NULL),
samp AS (
  SELECT lang AS stratum, n_chars FROM (
    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
    FROM keyed) WHERE rn <= 100),
smoments AS (
  SELECT stratum, CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(q) AS HUGEINT) AS s, CAST(sum(q * q) AS HUGEINT) AS ss
  FROM (SELECT stratum,
               CAST(floor(CAST(n_chars AS DOUBLE) * 1000000) AS HUGEINT) AS q
        FROM samp WHERE n_chars IS NOT NULL)
  GROUP BY stratum),
j AS (SELECT p.stratum, p.Np, m.ns, m.s, m.ss
      FROM pop p LEFT JOIN smoments m ON p.stratum = m.stratum),
terms AS (SELECT Np,
    coalesce(ns, 0) AS nn,
    CASE WHEN ns IS NOT NULL AND ns > 0 THEN 1 ELSE 0 END AS cov,
    CAST(round(CASE WHEN ns IS NOT NULL AND ns > 0 THEN
        CAST(Np AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(ns AS DOUBLE)
             / 1000000.0) ELSE 0.0 END, 12) AS DECIMAL(38,12)) AS t,
    CAST(round(CASE WHEN ns IS NOT NULL AND ns > 1 THEN
        CAST(Np AS DOUBLE) * CAST(Np AS DOUBLE)
        * (1.0 - CAST(ns AS DOUBLE) / CAST(Np AS DOUBLE))
        * (greatest((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
               * CAST(s AS DOUBLE) / CAST(ns AS DOUBLE))
             / (CAST(ns AS DOUBLE) - 1.0) / (1000000.0 * 1000000.0), 0.0))
        / CAST(ns AS DOUBLE) ELSE 0.0 END, 12) AS DECIMAL(38,12)) AS v
  FROM j),
agg AS (SELECT CAST(sum(Np) AS BIGINT) AS n_population,
               CAST(sum(Np * cov) AS BIGINT) AS n_pop_covered,
               CAST(sum(nn) AS BIGINT) AS n_sampled,
               CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(1 - cov) AS BIGINT) AS n_strata_unsampled,
               sum(t) AS T, sum(v) AS V
        FROM terms)
SELECT n_population, n_pop_covered, n_sampled, n_strata, n_strata_unsampled,
  round(CASE WHEN n_pop_covered > 0 THEN CAST(T AS DOUBLE)
        / CAST(n_pop_covered AS DOUBLE) END, 6) AS est_mean,
  round(CAST(T AS DOUBLE), 6) AS est_total,
  round(sqrt(greatest(CAST(V AS DOUBLE), 0.0)), 6) AS se_total,
  round(CAST(T AS DOUBLE)
        - 1.96 * sqrt(greatest(CAST(V AS DOUBLE), 0.0)), 6) AS ci_lo_total,
  round(CAST(T AS DOUBLE)
        + 1.96 * sqrt(greatest(CAST(V AS DOUBLE), 0.0)), 6) AS ci_hi_total
FROM agg"""


@q("stratified_audit_estimate", _STRAT_EST_ORACLE)
def stratified_audit_estimate(spark, sf_dir):
    """Design-based stratified estimate (sampling.py:
    stratified_estimate, Cochran 1977 §5) closing the audit loop:
    neyman_audit_allocation CHOOSES, corpus_fixed_k_per_lang's sampler
    DRAWS (here k=100/lang, salt 'audit'), and this PROJECTS the
    audited n_chars back to a corpus total with a finite-population-
    corrected CI — the "estimate the whole corpus from 500 human
    labels" machinery, with unsampled-strata coverage explicit rather
    than imputed. Two #strata aggregates joined on stratum,
    oracle-exact including the sampler replay."""
    from xmlschemavalidator_spark.sampling import (
        stratified_estimate,
        stratified_fixed_k,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("lang").isNotNull())
    sample = stratified_fixed_k(docs, "doc_id", "lang", k=100, salt="audit")
    return stratified_estimate(docs, sample, "n_chars", "lang")


def _mh_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import mantel_haenszel_oracle_sql

    return mantel_haenszel_oracle_sql(
        """SELECT source AS st,
              position(' spark ' IN ' ' || text || ' ') > 0 AS e,
              n_chars >= 250 AS o
       FROM documents
       WHERE text IS NOT NULL AND n_chars IS NOT NULL AND source IS NOT NULL"""
    )


@q("mantel_haenszel_keyword_length", _mh_oracle())
def mantel_haenszel_keyword_length(spark, sf_dir):
    """Mantel–Haenszel stratified 2×2 (checks/stats.py:mantel_haenszel)
    — the FIX for what simpsons_paradox_check detects: does mentioning
    ' spark ' associate with long documents AFTER adjusting for source
    (a source that is both verbose and keyword-heavy would fake the
    pooled association)? MH common odds ratio + CMH chi², degenerate
    strata visibly excluded via n_informative_strata. One scan, one
    stratum aggregate, oracle-exact including the A&S p."""
    from xmlschemavalidator_spark.checks.stats import mantel_haenszel

    docs = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
        & F.col("n_chars").isNotNull()
        & F.col("source").isNotNull()
    )
    staged = docs.select(
        F.col("source").alias("st"),
        (
            F.locate(" spark ", F.concat(F.lit(" "), F.col("text"), F.lit(" "))) > 0
        ).alias("e"),
        (F.col("n_chars") >= 250).alias("o"),
    )
    return mantel_haenszel(staged, "e", "o", "st")


def _laplace_oracle() -> str:
    from xmlschemavalidator_spark.checks.privacy import (
        laplace_noisy_counts_oracle_sql,
    )

    return laplace_noisy_counts_oracle_sql(
        "SELECT lang FROM documents", "lang", epsilon_milli=1000, salt="rel-r4"
    )


@q("laplace_noisy_lang_counts", _laplace_oracle())
def laplace_noisy_lang_counts(spark, sf_dir):
    """Laplace-mechanism release of per-lang doc counts at ε=1
    (checks/privacy.py:laplace_noisy_counts, Dwork TCC'06) — the
    RELEASE side of the privacy family (k-anonymity/l-diversity audit;
    this publishes): true counts never appear in the output, the noise
    is the exact Laplace inverse-CDF over a content-addressed md5
    uniform, and the documented trade is that the SALT carries the
    privacy (reproducible + oracle-checkable ⇔ subtractable by a
    salt-holder; rotate per release). One groupBy + a per-group
    projection."""
    from xmlschemavalidator_spark.checks.privacy import laplace_noisy_counts

    return laplace_noisy_counts(
        _t(spark, sf_dir, "documents"), "lang", epsilon_milli=1000, salt="rel-r4"
    )


def _code_switch_oracle() -> str:
    score_exprs = ", ".join(
        f"len(list_filter(string_split_regex(trim(coalesce(para,'')), '\\s+'),"
        f" x -> list_contains({arr}, lower(x)))) AS s_{lang}"
        for lang, arr in _LANGID_SQL_SCORES.items()
    )
    return f"""WITH paras AS (
  SELECT doc, para FROM (
    SELECT doc_id AS doc,
           unnest(string_split_regex(coalesce(text, ''), '\\n{{2,}}')) AS para
    FROM documents)
  WHERE length(trim(para)) >= 30),
s AS (SELECT doc, {score_exprs} FROM paras),
v AS (SELECT doc,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_sv) <= 0 THEN 'und'
             WHEN s_de >= greatest(s_en, s_es, s_fr, s_sv) THEN 'de'
             WHEN s_en >= greatest(s_es, s_fr, s_sv) THEN 'en'
             WHEN s_es >= greatest(s_fr, s_sv) THEN 'es'
             WHEN s_fr >= s_sv THEN 'fr'
             ELSE 'sv' END AS plang
      FROM s),
cells AS (SELECT doc, plang, CAST(count(*) AS BIGINT) AS c
          FROM v WHERE plang <> 'und' GROUP BY 1, 2),
dom AS (SELECT doc, plang AS dominant_lang, c FROM (
          SELECT *, row_number() OVER (PARTITION BY doc
                      ORDER BY c DESC, plang ASC) AS rn
          FROM cells) WHERE rn = 1),
per AS (SELECT doc, CAST(sum(c) AS BIGINT) AS n_paras_scored,
               CAST(count(*) AS BIGINT) AS n_langs
        FROM cells GROUP BY doc)
SELECT per.doc, n_paras_scored, n_langs, dominant_lang,
  dom.c * 1000000 // n_paras_scored AS dominant_share_micro,
  n_langs > 1 AS mixed
FROM per JOIN dom ON per.doc = dom.doc"""


@q("code_switch_report", _code_switch_oracle())
def code_switch_report_q(spark, sf_dir):
    """Paragraph-level language-consistency report (textops.py:
    code_switch_report): per-paragraph stopword lang-ID votes, dominant
    language + share, mixed flag — the code-switching / wrong-merge
    detector, because a doc-level label asserts ONE language and a
    mixed doc poisons every per-lang statistic downstream (CCNet
    terciles, per-lang report panels, token budgets all key on lang).
    Shuffle carries (doc, lang) counts, never paragraph text;
    oracle replays the exact per-paragraph argmax tie-break."""
    from xmlschemavalidator_spark.textops import code_switch_report

    return code_switch_report(_t(spark, sf_dir, "documents"), "doc_id")


def _fertility_oracle() -> str:
    from xmlschemavalidator_spark.textops import _WS

    ws_inner = _WS[1:-1]  # the raw class chars, to compose [^...]
    ntok = (
        "CASE WHEN trim(coalesce(text, '')) = '' THEN 0 ELSE"
        f" len(string_split_regex(trim(text), '{_WS}+')) END"
    )
    bpe = (
        "len(regexp_extract_all(coalesce(text, ''),"
        f" '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{ws_inner}]'))"
        " + len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]{7,}'))"
    )
    return f"""WITH per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS n_chars,
         CAST(sum({ntok}) AS BIGINT) AS n_ws_tokens,
         CAST(sum({bpe}) AS BIGINT) AS n_bpe_tokens
  FROM documents GROUP BY lang)
SELECT lang, n_docs, n_chars, n_ws_tokens, n_bpe_tokens,
  round(CASE WHEN n_ws_tokens > 0 THEN CAST(n_chars AS DOUBLE)
        / CAST(n_ws_tokens AS DOUBLE) END, 6) AS chars_per_ws_token,
  round(CASE WHEN n_bpe_tokens > 0 THEN CAST(n_chars AS DOUBLE)
        / CAST(n_bpe_tokens AS DOUBLE) END, 6) AS chars_per_bpe_token,
  round(CASE WHEN n_ws_tokens > 0 THEN CAST(n_bpe_tokens AS DOUBLE)
        / CAST(n_ws_tokens AS DOUBLE) END, 6) AS bpe_per_ws_ratio
FROM per"""


@q("tokenizer_fertility_per_lang", _fertility_oracle())
def tokenizer_fertility_per_lang(spark, sf_dir):
    """Tokenizer fertility panel (textops.py:tokenizer_fertility): per
    lang, chars per whitespace token vs chars per BPE-ish subword and
    their ratio — the cost-model input token budgets key on (a lang at
    2× bpe_per_ws pays double context for the same words; budgets fed
    ws counts silently starve it). One projection + one groupBy; the
    BPE estimate's regex alternation replays in RE2 with the explicit
    whitespace class (the \\x0b rule). Oracle-exact."""
    from xmlschemavalidator_spark.textops import tokenizer_fertility

    return tokenizer_fertility(_t(spark, sf_dir, "documents"), "lang")


_JT_ORACLE = """WITH src AS (
  SELECT CAST(least(extract(hour FROM CAST(ts AS TIMESTAMP)) // 6, 3)
         AS BIGINT) AS g,
         CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1, 2),
j2 AS (SELECT CAST(coalesce(sum(CASE WHEN a.v < b.v
                 THEN CAST(a.c AS HUGEINT) * b.c * 2
                 ELSE CAST(a.c AS HUGEINT) * b.c END), 0) AS HUGEINT) AS j2
       FROM cells a JOIN cells b ON a.g < b.g AND a.v <= b.v),
gsz AS (SELECT g, CAST(sum(c) AS BIGINT) AS m FROM cells GROUP BY g),
ga AS (SELECT CAST(sum(m) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS n_groups,
              CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS sn2,
              CAST(sum(CAST(m AS HUGEINT) * (m - 1) * (2 * m + 5)) AS HUGEINT) AS t1g,
              CAST(sum(CAST(m AS HUGEINT) * (m - 1) * (m - 2)) AS HUGEINT) AS t2g,
              CAST(sum(CAST(m AS HUGEINT) * (m - 1)) AS HUGEINT) AS t3g
       FROM gsz),
tsz AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY v),
ta AS (SELECT CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS HUGEINT) AS t1t,
              CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS HUGEINT) AS t2t,
              CAST(sum(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT) AS t3t
       FROM tsz),
m AS (SELECT ga.*, ta.*, j2.j2, CAST(ga.n AS DOUBLE) AS nd
      FROM ga, ta, j2),
m2 AS (SELECT *,
    (nd * (nd - 1) * (2 * nd + 5) - CAST(t1g AS DOUBLE) - CAST(t1t AS DOUBLE))
      / 72.0
    + CAST(t2g AS DOUBLE) * CAST(t2t AS DOUBLE)
      / (36.0 * nd * (nd - 1) * (nd - 2))
    + CAST(t3g AS DOUBLE) * CAST(t3t AS DOUBLE) / (8.0 * nd * (nd - 1)) AS var,
    (nd * nd - CAST(sn2 AS DOUBLE)) / 2.0 AS ej2
  FROM m),
m3 AS (SELECT *, CASE WHEN n > 2 AND var > 0 THEN
         (CAST(j2 AS DOUBLE) - ej2) / 2.0 / sqrt(var) END AS z
       FROM m2)
SELECT n, n_groups, CAST(j2 AS BIGINT) AS j_doubled,
  round(z, 6) AS z,
  round(CASE WHEN z IS NOT NULL THEN {P} END, 6) AS p,
  coalesce(abs(z) * 1000 > 1960, FALSE) AS significant
FROM m3"""


def _jt_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import _p_two_sided_sql

    return _JT_ORACLE.replace("{P}", _p_two_sided_sql("z"))


@q("jonckheere_value_by_hour", _jt_oracle())
def jonckheere_value_by_hour(spark, sf_dir):
    """Jonckheere–Terpstra ordered-alternative test (checks/stats.py:
    jonckheere_terpstra) — the Cochran–Armitage test's CONTINUOUS sibling: does
    the event value RISE across the four 6-hour day quarters, asked as
    one directed df instead of Kruskal–Wallis's any-difference. 2J stays
    integer on the (group, value) cell lattice (the kendall cell-pair
    device, ga<gb restricted); full Lehmann tie-corrected variance from
    exact integer sums. Oracle-exact including the A&S p."""
    from xmlschemavalidator_spark.checks.stats import jonckheere_terpstra

    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    staged = ev.select(
        F.least(
            F.floor(F.hour(F.col("ts").cast("timestamp")) / 6), F.lit(3)
        )
        .cast("long")
        .alias("s"),
        F.col("value").alias("v"),
    )
    return jonckheere_terpstra(staged, "s", "v")


def _woolf_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import woolf_homogeneity_oracle_sql

    return woolf_homogeneity_oracle_sql(
        """SELECT source AS st,
              position(' spark ' IN ' ' || text || ' ') > 0 AS e,
              n_chars >= 250 AS o
       FROM documents
       WHERE text IS NOT NULL AND n_chars IS NOT NULL AND source IS NOT NULL"""
    )


@q("woolf_or_homogeneity", _woolf_oracle())
def woolf_or_homogeneity(spark, sf_dir):
    """Woolf homogeneity test (checks/stats.py:woolf_homogeneity) on
    the same keyword×length staging as mantel_haenszel_keyword_length —
    the PRECONDITION that query's pooled OR silently assumes: do the
    sources agree on the odds ratio at all, or is there effect
    modification (the filter helps one source and hurts another — in
    which case the honest report is per-stratum, never pooled)?
    Haldane ½ on every cell, Q from one-pass weighted sums,
    Wilson–Hilferty chi²(k−1) p. Oracle-exact."""
    from xmlschemavalidator_spark.checks.stats import woolf_homogeneity

    docs = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
        & F.col("n_chars").isNotNull()
        & F.col("source").isNotNull()
    )
    staged = docs.select(
        F.col("source").alias("st"),
        (
            F.locate(" spark ", F.concat(F.lit(" "), F.col("text"), F.lit(" "))) > 0
        ).alias("e"),
        (F.col("n_chars") >= 250).alias("o"),
    )
    return woolf_homogeneity(staged, "e", "o", "st")


_NOVELTY_ORACLE = r"""WITH sh AS (
  SELECT doc, md5(g) AS h FROM (
    SELECT doc_id AS doc, unnest(list_distinct(sl)) AS g FROM (
      SELECT doc_id,
             CASE WHEN len(string_split_regex(trim(coalesce(text, '')), '\s+')) < 3
                  THEN []
             ELSE list_transform(
               range(1, len(string_split_regex(trim(text), '\s+')) - 1),
               i -> array_to_string(string_split_regex(trim(text), '\s+')[i:i+2], ' ')
             ) END AS sl
      FROM documents))),
dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS dfc FROM sh GROUP BY h),
per AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel
        FROM sh JOIN dfq USING (h) GROUP BY doc)
SELECT doc, n_grams, n_novel,
       n_novel * 1000000 // n_grams AS novelty_micro
FROM per"""


@q("ngram_novelty_per_doc", _NOVELTY_ORACLE)
def ngram_novelty_per_doc(spark, sf_dir):
    """Per-doc trigram novelty (textops.py:ngram_novelty): the fraction
    of each doc's distinct token 3-grams appearing in NO other doc —
    the per-doc templating signal the corpus-level dedup family
    aggregates away (novelty→0 = assembled-from-boilerplate even when
    no doc PAIR crosses a dedup threshold; for decontamination audits,
    a low-novelty doc is one the corpus already memorizes). Inverted-
    index discipline without pair generation: hashes shuffle, gram text
    doesn't, output linear in (doc, gram). Oracle-exact."""
    from xmlschemavalidator_spark.textops import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"), "doc_id")


def _keyness_oracle() -> str:
    from xmlschemavalidator_spark.textops import _WS

    def cnt(lang: str, alias: str) -> str:
        return f"""SELECT term, CAST(count(*) AS BIGINT) AS {alias} FROM (
      SELECT lower(unnest(string_split_regex(trim(coalesce(text, '')),
             '{_WS}+'))) AS term
      FROM documents WHERE lang = '{lang}') WHERE term <> '' GROUP BY term"""

    t = "(CASE WHEN {o} > 0 THEN {o} * ln({o} / ({e})) ELSE 0.0 END)"
    a, b = "CAST(n_ta AS DOUBLE)", "CAST(n_tb AS DOUBLE)"
    na, nb = "CAST(tna AS DOUBLE)", "CAST(tnb AS DOUBLE)"
    row1 = f"({a} + {b})"
    n = f"({na} + {nb})"
    g2 = (
        "2.0 * ("
        + t.format(o=a, e=f"{na} * {row1} / {n}")
        + " + " + t.format(o=b, e=f"{nb} * {row1} / {n}")
        + " + " + t.format(o=f"({na} - {a})", e=f"{na} * ({n} - {row1}) / {n}")
        + " + " + t.format(o=f"({nb} - {b})", e=f"{nb} * ({n} - {row1}) / {n}")
        + ")"
    )
    return f"""WITH ca AS ({cnt('en', 'n_ta')}),
cb AS ({cnt('de', 'n_tb')}),
j AS (SELECT coalesce(ca.term, cb.term) AS term,
             coalesce(n_ta, 0) AS n_ta, coalesce(n_tb, 0) AS n_tb
      FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
tot AS (SELECT CAST(sum(n_ta) AS BIGINT) AS tna,
               CAST(sum(n_tb) AS BIGINT) AS tnb FROM j),
m AS (SELECT term, n_ta, n_tb,
             CAST(floor({g2} * 1000000) AS BIGINT) AS g2_micro,
             CASE WHEN {a} / {na} >= {b} / {nb} THEN 'a' ELSE 'b' END
                 AS enriched_in
      FROM j CROSS JOIN tot WHERE n_ta + n_tb >= 5),
r AS (SELECT *, row_number() OVER (PARTITION BY enriched_in
          ORDER BY g2_micro DESC, term ASC) AS rank FROM m)
SELECT enriched_in, CAST(rank AS INT) AS rank, term, n_ta, n_tb, g2_micro
FROM r WHERE rank <= 20"""


@q("keyness_en_vs_de", _keyness_oracle())
def keyness_en_vs_de(spark, sf_dir):
    """Dunning log-likelihood keyness (textops.py:keyness_terms, CL
    1993) between the en and de subcorpora: the WORD-level explanation
    scalar drift can't give — when a token-distribution JSD fires,
    these are the terms that moved, G²-ranked (sound for the RARE words
    frequency ratios explode on). Term counts shuffle, corpus text
    doesn't; top-20 per direction. Oracle-exact including the
    floor-micro G² ranking keys."""
    from xmlschemavalidator_spark.textops import keyness_terms

    docs = _t(spark, sf_dir, "documents")
    return keyness_terms(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") == "de"),
        k=20,
        min_count=5,
    )


def _dispersion_oracle() -> str:
    from xmlschemavalidator_spark.textops import _WS

    return f"""WITH toks AS (
  SELECT source AS part, term FROM (
    SELECT source, lower(unnest(string_split_regex(trim(coalesce(text, '')),
           '{_WS}+'))) AS term
    FROM documents WHERE source IS NOT NULL) WHERE term <> ''),
cells AS (SELECT part, term, CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2),
parts AS (SELECT part, CAST(sum(c) AS BIGINT) AS pn FROM cells GROUP BY part),
tot AS (SELECT CAST(sum(pn) AS BIGINT) AS tn FROM parts),
tt AS (SELECT term, CAST(sum(c) AS BIGINT) AS n_total,
              CAST(count(*) AS BIGINT) AS n_parts_present
       FROM cells GROUP BY term),
j AS (SELECT cells.term, cells.c, parts.pn, tot.tn, tt.n_total,
             tt.n_parts_present
      FROM cells JOIN parts USING (part) CROSS JOIN tot
      JOIN tt ON cells.term = tt.term
      WHERE tt.n_total >= 10),
per AS (SELECT term, n_total, n_parts_present,
    sum(CAST(round(abs(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE)
             - CAST(pn AS DOUBLE) / CAST(tn AS DOUBLE)), 12)
        AS DECIMAL(20,12))) AS sumdev,
    sum(CAST(round(CAST(pn AS DOUBLE) / CAST(tn AS DOUBLE), 12)
        AS DECIMAL(20,12))) AS sums
  FROM j GROUP BY 1, 2, 3),
sc AS (SELECT term, n_total, n_parts_present,
    CAST(floor((CAST(sumdev AS DOUBLE) + (1.0 - CAST(sums AS DOUBLE))) / 2.0
         * 1000000) AS BIGINT) AS dp_micro
  FROM per)
SELECT CAST(rank AS INT) AS rank, term, n_total, n_parts_present, dp_micro
FROM (SELECT *, row_number() OVER (ORDER BY dp_micro DESC, term ASC) AS rank
      FROM sc)
WHERE rank <= 20"""


@q("term_dispersion_by_source", _dispersion_oracle())
def term_dispersion_by_source(spark, sf_dir):
    """Gries' DP dispersion (textops.py:term_dispersion, IJCL 2008):
    the 20 burstiest frequent terms across sources — keyness compares
    two corpora, DP profiles one: a frequent term with DP→1 lives in a
    single source (topical, template, or a contamination leak),
    frequency alone can't tell it from an everywhere-word. Absent-part
    mass folded in closed form — no dense term×part grid. One
    (part,term) groupBy + #parts broadcast; oracle-exact."""
    from xmlschemavalidator_spark.textops import term_dispersion

    docs = _t(spark, sf_dir, "documents").where(F.col("source").isNotNull())
    return term_dispersion(docs, "source", k=20, min_count=10)


def _logdice_oracle() -> str:
    ws = "[ \\t\\n\\x0b\\f\\r]+"
    return f"""WITH arrs AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(trim(coalesce(lower(text), '')),
                                           '{ws}'), t -> t <> '') AS toks
  FROM documents
), pos AS (
  SELECT doc, unnest(toks) AS t, generate_subscripts(toks, 1) AS i FROM arrs
), pr AS (
  SELECT least(a.t, b.t) AS x, greatest(a.t, b.t) AS y
  FROM pos a JOIN pos b
    ON a.doc = b.doc AND b.i > a.i AND b.i <= a.i + 2
  WHERE a.t <> b.t
), pairs AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
  FROM pr GROUP BY 1, 2 HAVING count(*) >= 5
), uni AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY t
)
SELECT x, y, c_xy,
       CAST(CAST(2 AS HUGEINT) * c_xy * 1000000
            // (CAST(ux.c AS HUGEINT) + uy.c) AS BIGINT) AS dice_micro,
       round(14.0 + ln(2.0 * c_xy / CAST(ux.c + uy.c AS DOUBLE)) / ln(2.0), 6)
           AS logdice
FROM pairs JOIN uni ux ON pairs.x = ux.t JOIN uni uy ON pairs.y = uy.t
ORDER BY dice_micro DESC, x ASC, y ASC LIMIT 20"""


@q("token_logdice_topk", _logdice_oracle())
def token_logdice_topk_q(spark, sf_dir):
    """logDice collocations (textops.py:token_logdice_topk, Rychlý
    RASLAN'08 — the Sketch Engine standard): the PMI companion whose
    thresholds DON'T drift with corpus size (PMI carries a T term, so a
    cutoff tuned at 1 TB is wrong at 100 TB; logDice's ratio has none —
    the property that matters for standing pipeline gates). Ranking on
    the exact-integer dice_micro; shares the single-scan let-bound
    skip-gram machinery with PMI. Oracle-exact."""
    from xmlschemavalidator_spark.textops import token_logdice_topk

    return token_logdice_topk(_t(spark, sf_dir, "documents"), "doc_id")


_XSRC_DUP_ORACLE = r"""WITH dirty AS (
  SELECT source, text FROM documents WHERE source IS NOT NULL
  UNION ALL
  SELECT 'mirror', text FROM documents
  WHERE source IS NOT NULL AND doc_id % 7 = 0
  UNION ALL
  SELECT source, text FROM documents
  WHERE source IS NOT NULL AND doc_id % 13 = 0),
cells AS (
  SELECT md5(lower(regexp_replace(trim(coalesce(text, '')), '\s+', ' ', 'g')))
             AS fp,
         source AS src, CAST(count(*) AS BIGINT) AS n
  FROM dirty GROUP BY 1, 2),
keep AS (SELECT fp FROM cells GROUP BY fp HAVING sum(n) > 1),
dup AS (SELECT cells.* FROM cells JOIN keep USING (fp)),
pairs AS (
  SELECT a.fp, a.src AS source_a, b.src AS source_b, a.n AS na, b.n AS nb
  FROM dup a JOIN dup b ON a.fp = b.fp AND a.src <= b.src
  WHERE a.src <> b.src OR a.n > 1)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(sum(na) AS BIGINT) AS n_docs_a,
       CAST(sum(nb) AS BIGINT) AS n_docs_b
FROM pairs GROUP BY 1, 2"""


@q("cross_source_duplication", _XSRC_DUP_ORACLE)
def cross_source_duplication_q(spark, sf_dir):
    """Source-level mirror matrix (dedup.py:cross_source_duplication):
    which sources share exact-duplicate fingerprints with which — the
    scraper-of-a-scraper view doc-level dedup aggregates away, with
    diagonal rows as the within-source repost signal. The synthetic
    corpus has no natural exact dups, so the staging PLANTS a 'mirror'
    source (every 7th doc) and within-source reposts (every 13th) —
    the measured-not-assumed convention. Pair expansion bounded by
    sources-per-fingerprint², never doc×doc. Oracle-exact."""
    from xmlschemavalidator_spark.dedup import cross_source_duplication

    docs = _t(spark, sf_dir, "documents").where(F.col("source").isNotNull())
    dirty = (
        docs.select("doc_id", "source", "text")
        .unionByName(
            docs.where(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 100_000).alias("doc_id"),
                F.lit("mirror").alias("source"),
                "text",
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 200_000).alias("doc_id"), "source", "text"
            )
        )
    )
    return cross_source_duplication(dirty, "doc_id", "source")


def _ql_oracle() -> str:
    from xmlschemavalidator_spark.textops import _WS

    terms = sorted({t.lower() for t in _BM25_TERMS})
    tf_lanes = ", ".join(
        f"CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf{i}"
        for i, t in enumerate(terms)
    )
    cf_lanes = ", ".join(
        f"greatest(CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT), 1) AS cf{i}"
        for i, t in enumerate(terms)
    )
    score = " + ".join(
        f"CAST(floor(ln((coalesce(tf{i}, 0) * CAST(S AS DOUBLE)"
        f" + CAST(2000 * cf{i} AS DOUBLE))"
        f" / (CAST(S AS DOUBLE) * (coalesce(dl, 0) + CAST(2000 AS DOUBLE))))"
        f" * 1000000) AS BIGINT)"
        for i in range(len(terms))
    )
    hits = " + ".join(
        f"CASE WHEN coalesce(tf{i}, 0) > 0 THEN 1 ELSE 0 END"
        for i in range(len(terms))
    )
    return f"""WITH toks AS (
  SELECT doc_id AS doc,
         lower(unnest(string_split_regex(trim(coalesce(text, '')),
               '{_WS}+'))) AS term
  FROM documents),
tk AS (SELECT doc, term FROM toks WHERE term <> ''),
stats AS (SELECT CAST(count(*) AS BIGINT) AS S, {cf_lanes} FROM tk),
per AS (SELECT doc, CAST(count(*) AS BIGINT) AS dl, {tf_lanes}
        FROM tk GROUP BY doc),
base AS (SELECT d.doc_id AS doc, per.dl, {", ".join(f"per.tf{i}" for i in range(len(terms)))}
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc)
SELECT doc, CAST({hits} AS INT) AS n_hits,
       CAST({score} AS BIGINT) AS score_micro
FROM base CROSS JOIN stats
ORDER BY score_micro DESC, doc ASC LIMIT 10"""


@q("text_ql_dirichlet_topk", _ql_oracle())
def text_ql_dirichlet_topk(spark, sf_dir):
    """Dirichlet query-likelihood retrieval (textops.py:
    ql_dirichlet_topk, Zhai & Lafferty SIGIR'01) for the standing BM25
    query — the language-modeling member completing the classical trio:
    unlike BM25, EVERY doc scores (smoothing mass is a real probability
    at tf=0; length normalization falls out of the prior). One token
    pass into per-doc conditional-sum lanes (no per-term join),
    integer-micro ln terms, TakeOrdered top-10. Oracle-exact."""
    from xmlschemavalidator_spark.textops import ql_dirichlet_topk

    return ql_dirichlet_topk(_t(spark, sf_dir, "documents"), "doc_id", _BM25_TERMS)


def _path_tpl_oracle() -> str:
    from xmlschemavalidator_spark.weburl import canonical_host_sql, canonical_url_sql

    re_ = "^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)?"
    tpl = (
        "array_to_string(list_transform(string_split(p, '/'),"
        " s -> CASE WHEN regexp_matches(s, '^[0-9]+$') THEN '{n}'"
        " WHEN regexp_matches(s, '^[0-9a-f]{8,}$') THEN '{h}'"
        " ELSE s END), '/')"
    )
    return f"""WITH u AS (SELECT {canonical_url_sql(_PLANT_URL)} AS cu
               FROM documents),
b AS (SELECT {canonical_host_sql('cu')} AS host,
             CASE WHEN length(regexp_extract(cu, '{re_}', 1)) = 0 THEN '/'
                  ELSE regexp_extract(cu, '{re_}', 1) END AS p,
             regexp_extract(cu, '{re_}', 1) AS rawp
      FROM u),
c AS (SELECT host, {tpl} AS template, rawp FROM b
      WHERE host IS NOT NULL AND length(host) > 0),
l1 AS (SELECT host, template, rawp, CAST(count(*) AS BIGINT) AS n
       FROM c GROUP BY 1, 2, 3)
SELECT host, template, CAST(sum(n) AS BIGINT) AS n_urls,
       CAST(count(*) AS BIGINT) AS n_variants
FROM l1 GROUP BY 1, 2 HAVING sum(n) >= 2"""


@q("url_path_templates", _path_tpl_oracle())
def url_path_templates(spark, sf_dir):
    """URL path-template inventory (weburl.py:path_templates): the
    /articles/{n} map per host over the planted URL layer — the
    URL-SPACE twin of the tag-sequence templated-site detector (that
    one fingerprints rendered structure; this one the address space a
    crawler budgets by: a {n}-template with 10⁷ fills is one database
    table, not ten million pages). HOF segment generalization (RE2 has
    no lookahead — never regex across slash boundaries), two-level
    partial agg, result bounded by template vocabulary. Oracle-exact."""
    from xmlschemavalidator_spark.weburl import path_templates

    docs = _t(spark, sf_dir, "documents")
    return path_templates(docs.select(F.expr(_PLANT_URL).alias("url")), "url")


def _rbo_oracle() -> str:
    import math

    from xmlschemavalidator_spark.checks.drift import _rbo_weights_micro
    from xmlschemavalidator_spark.textops import _WS

    k, p_milli = 20, 900
    w = _rbo_weights_micro(p_milli, k)
    wvals = ", ".join(f"({d + 1}, {wm})" for d, wm in enumerate(w))
    pk = int(math.floor((p_milli / 1000.0) ** k * 1_000_000))

    def side(par: int, alias: str) -> str:
        return f"""SELECT term, CAST(r AS BIGINT) AS r FROM (
      SELECT term, row_number() OVER (ORDER BY c DESC, term ASC) AS r FROM (
        SELECT term, CAST(count(*) AS BIGINT) AS c FROM (
          SELECT lower(unnest(string_split_regex(trim(coalesce(text, '')),
                 '{_WS}+'))) AS term
          FROM documents WHERE doc_id % 2 = {par}) WHERE term <> ''
        GROUP BY term)) WHERE r <= {k}"""

    return f"""WITH la AS ({side(0, 'a')}),
lb AS ({side(1, 'b')}),
common AS (SELECT greatest(la.r, lb.r) AS d FROM la JOIN lb USING (term)),
hist AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM common GROUP BY d),
depths AS (SELECT unnest(range(1, {k + 1})) AS d),
wt(d, wm) AS (VALUES {wvals}),
j AS (SELECT depths.d, wt.wm,
        CAST(sum(coalesce(hist.c, 0)) OVER (ORDER BY depths.d
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS inter
      FROM depths LEFT JOIN hist ON depths.d = hist.d
      JOIN wt ON wt.d = depths.d),
terms AS (SELECT wm * inter // d AS t,
        CASE WHEN d = {k} THEN {pk} * inter // d ELSE 0 END AS ext,
        CASE WHEN d = {k} THEN inter ELSE 0 END AS nc
      FROM j),
na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM la),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM lb)
SELECT CAST({k} AS INT) AS k, n_a, n_b,
       CAST(max(nc) AS BIGINT) AS n_common,
       CAST(sum(t) + sum(ext) AS BIGINT) AS rbo_micro
FROM terms, na, nb GROUP BY n_a, n_b"""


@q("rbo_token_ranking_halves", _rbo_oracle())
def rbo_token_ranking_halves(spark, sf_dir):
    """Rank-biased overlap (checks/drift.py:ranking_overlap_rbo, Webber
    TOIS'10) between the top-20 token rankings of the doc-parity corpus
    halves — the RANKING leg of the drift family (sets→Jaccard,
    distributions→KS/JSD, rankings→RBO): depth-weighted so a swap at
    rank 1 is the finding and one at rank 19 is noise, which set
    overlap can't distinguish. Parity halves are exchangeable, so a low
    reading here is the A/A guard firing. Python-precomputed integer
    weights, exact integer depth terms; oracle-exact
    including both embedded rankings."""
    from pyspark.sql import Window as W

    from xmlschemavalidator_spark.checks.drift import ranking_overlap_rbo
    from xmlschemavalidator_spark.textops import tokens

    docs = _t(spark, sf_dir, "documents")

    def side(par: int):
        toks = (
            docs.where(F.col("doc_id") % 2 == par)
            .select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
            .where(F.length("term") > 0)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        r = F.row_number().over(W.orderBy(F.col("c").desc(), F.col("term").asc()))
        return toks.select("term", r.alias("rank")).where(F.col("rank") <= 20)

    return ranking_overlap_rbo(side(0), side(1), "term", "rank", k=20, p_milli=900)


def _kendalls_w_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import _p_two_sided_sql
    from xmlschemavalidator_spark.textops import _WS

    ntok = (
        "CASE WHEN trim(coalesce(text, '')) = '' THEN 0 ELSE"
        f" len(string_split_regex(trim(text), '{_WS}+')) END"
    )
    npunct = "length(regexp_replace(coalesce(text, ''), '[^.,;:!?]', '', 'g'))"
    wstat = (
        "(CASE WHEN n_items > 2 AND den > 0 THEN num / den END)"
    )
    chi2 = f"(3.0 * (CAST(n_items AS DOUBLE) - 1) * {wstat})"
    zwh = (
        f"(CASE WHEN n_items > 2 AND den > 0 THEN"
        f" (cbrt({chi2} / CAST(n_items - 1 AS DOUBLE))"
        f" - (1.0 - 2.0 / (9.0 * CAST(n_items - 1 AS DOUBLE))))"
        f" / sqrt(2.0 / (9.0 * CAST(n_items - 1 AS DOUBLE))) END)"
    )
    half = f"({_p_two_sided_sql(zwh)} / 2.0)"
    p = (
        f"(CASE WHEN n_items > 2 AND den > 0 THEN"
        f" CASE WHEN {zwh} >= 0 THEN {half} ELSE 1.0 - {half} END END)"
    )
    return f"""WITH base AS (
  SELECT doc_id AS it, 'chars' AS sc,
         CAST(floor(CAST(n_chars AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM documents WHERE n_chars IS NOT NULL
  UNION ALL
  SELECT doc_id, 'tokens',
         CAST(floor(CAST({ntok} AS DOUBLE) * 1000000) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT doc_id, 'punct',
         CAST(floor(CAST({npunct} AS DOUBLE) * 1000000) AS BIGINT)
  FROM documents),
comp AS (SELECT it FROM base GROUP BY it HAVING count(DISTINCT sc) = 3),
kept AS (SELECT base.* FROM base JOIN comp USING (it)),
cells AS (SELECT sc, v, CAST(count(*) AS BIGINT) AS t
          FROM kept GROUP BY 1, 2),
ranked AS (SELECT sc, v, t,
    CAST(coalesce(sum(t) OVER (PARTITION BY sc ORDER BY v
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        AS cum
  FROM cells),
dr AS (SELECT sc, v, 2 * cum + t + 1 AS drr FROM ranked),
per AS (SELECT it, CAST(sum(drr) AS HUGEINT) AS r2
        FROM kept JOIN dr USING (sc, v) GROUP BY it),
tj AS (SELECT CAST(coalesce(sum(CAST(t AS HUGEINT) * t * t - t), 0)
           AS HUGEINT) AS T
       FROM cells),
ag AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(r2 * r2) AS HUGEINT) AS sr2
       FROM per),
m AS (SELECT n_items, sr2, T,
    3.0 * CAST(sr2 AS DOUBLE)
      - 3.0 * 9.0 * CAST(n_items AS DOUBLE)
        * (CAST(n_items AS DOUBLE) + 1) * (CAST(n_items AS DOUBLE) + 1)
        AS num,
    9.0 * CAST(n_items AS DOUBLE)
      * (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE) - 1)
      - 3.0 * CAST(T AS DOUBLE) AS den
  FROM ag, tj)
SELECT n_items, CAST(3 AS BIGINT) AS n_scorers,
  round({wstat}, 6) AS w,
  round({chi2}, 6) AS chi2,
  CAST(n_items - 1 AS BIGINT) AS dof,
  round({p}, 6) AS p,
  coalesce({p} < 0.05, FALSE) AS significant
FROM m"""


@q("kendalls_w_quality_signals", _kendalls_w_oracle())
def kendalls_w_quality_signals(spark, sf_dir):
    """Kendall's W concordance (checks/stats.py:kendalls_w) among three
    document quality scorers — chars, whitespace tokens, punctuation
    count — the multi-judge question under every composite score: do
    the signals ORDER documents consistently, or does averaging them
    launder disagreement (κ answers it for two categorical raters, RBO
    for two top-k lists, W for m full rankings)? Doubled average ranks
    keep every numerator integer; chi²(n−1) via Wilson–Hilferty.
    Oracle-exact."""
    from xmlschemavalidator_spark.checks.stats import kendalls_w
    from xmlschemavalidator_spark.textops import token_count

    docs = _t(spark, sf_dir, "documents").where(F.col("n_chars").isNotNull())
    punct = F.length(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"[^.,;:!?]", "")
    )
    long = (
        docs.select(
            F.col("doc_id").alias("it"),
            F.lit("chars").alias("sc"),
            F.col("n_chars").cast("double").alias("v"),
        )
        .unionByName(
            docs.select(
                F.col("doc_id").alias("it"),
                F.lit("tokens").alias("sc"),
                token_count(F.col("text")).cast("double").alias("v"),
            )
        )
        .unionByName(
            docs.select(
                F.col("doc_id").alias("it"),
                F.lit("punct").alias("sc"),
                punct.cast("double").alias("v"),
            )
        )
    )
    return kendalls_w(long, "it", "sc", "v")


_CLUSTER_ALPHA_ORACLE = f"""WITH comp AS ({_CLUSTER_ORACLE}),
sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
          FROM comp GROUP BY cluster),
f AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(CAST(floor(ln(CAST(sz AS DOUBLE) / 1.5)
                  * 1000000) AS BIGINT)), 0) AS BIGINT) AS sum_ln_micro
      FROM sizes WHERE sz >= 2)
SELECT n, CAST(2 AS INT) AS kmin, sum_ln_micro,
  round(CASE WHEN sum_ln_micro > 0 THEN
      1.0 + CAST(n AS DOUBLE) / (CAST(sum_ln_micro AS DOUBLE) / 1e6)
    END, 6) AS alpha
FROM f"""


@q("dedup_cluster_size_alpha", _CLUSTER_ALPHA_ORACLE)
def dedup_cluster_size_alpha(spark, sf_dir):
    """Power-law exponent of the near-dup CLUSTER-SIZE distribution —
    the structural sanity check on the dedup graph itself (META
    composition: near_duplicate_clusters → sizes → weburl.
    powerlaw_alpha at kmin=2): web duplicate clusters follow a heavy
    tail; an alpha collapsing toward 1 means a few mega-clusters are
    forming (threshold too loose / boilerplate leaking through the
    shingle filter — the input the cap-and-audit knobs are tuned BY),
    while a very large alpha says dedup found only pairs. The alpha
    chain reuses the CSN discrete MLE exactly; the cluster replay is
    the dedup_clusters recursive-CTE oracle. Oracle-exact."""
    from xmlschemavalidator_spark.dedup import near_duplicate_clusters
    from xmlschemavalidator_spark.weburl import powerlaw_alpha

    pairs = jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", shingle_n=3, threshold=0.12,
        max_posting=100000,
    )
    sizes = (
        near_duplicate_clusters(pairs)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return powerlaw_alpha(sizes, "deg", kmin=2)


# bow-tie fixture: doc_id%80 lays down a 75-node graph holding every
# Broder class — 0..19 core ring (SCC), 20..29 feeders (IN), 30..39
# sinks (OUT), 40..44 IN-side tendrils, 45..49 OUT-side tendrils,
# 50..54 IN→OUT tubes, 60..79 a disconnected ring. Max total degree is
# 4, uniquely at core nodes 0..9 → the default pivot (min id 0) sits in
# the giant SCC, as the taxonomy requires.
_BOWTIE_EDGES_SQL = """SELECT
  CASE WHEN k < 30 THEN k WHEN k < 40 THEN k - 30
       WHEN k < 45 THEN k - 20 WHEN k < 50 THEN k
       WHEN k < 55 THEN k - 30 WHEN k < 60 THEN k - 5
       ELSE k END AS src,
  CASE WHEN k < 20 THEN (k + 1) % 20 WHEN k < 30 THEN k - 20
       WHEN k < 45 THEN k WHEN k < 50 THEN k - 15
       WHEN k < 55 THEN k WHEN k < 60 THEN k - 25
       ELSE 60 + ((k - 59) % 20) END AS dst
FROM (SELECT doc_id % 80 AS k FROM documents)"""


def _bowtie_edges(spark, sf_dir):
    k = (F.col("doc_id") % 80).alias("k")
    docs = _t(spark, sf_dir, "documents").select(k)
    kc = F.col("k")
    src = (
        F.when(kc < 30, kc)
        .when(kc < 40, kc - 30)
        .when(kc < 45, kc - 20)
        .when(kc < 50, kc)
        .when(kc < 55, kc - 30)
        .when(kc < 60, kc - 5)
        .otherwise(kc)
    )
    dst = (
        F.when(kc < 20, (kc + 1) % 20)
        .when(kc < 30, kc - 20)
        .when(kc < 45, kc)
        .when(kc < 50, kc - 15)
        .when(kc < 55, kc)
        .when(kc < 60, kc - 25)
        .otherwise(60 + ((kc - 59) % 20))
    )
    return docs.select(src.alias("src"), dst.alias("dst"))


from xmlschemavalidator_spark.weburl import bowtie_oracle_sql  # noqa: E402


@q("link_bowtie_decomposition", bowtie_oracle_sql(_BOWTIE_EDGES_SQL, max_hops=32))
def link_bowtie_decomposition(spark, sf_dir):
    """Broder bow-tie decomposition (weburl.py:bowtie_decomposition,
    WWW'00 'Graph structure in the Web'): per-node SCC / IN / OUT /
    TUBE / TENDRIL_IN / TENDRIL_OUT / DISCONNECTED labels around the
    max-degree pivot's SCC — the macro-shape audit of a crawl slice.
    The planted 75-node fixture exercises every class (20/10/10/5/5/5/
    20 measured). Four shrinking-frontier Pregel closures with
    per-round lineage cuts + pure set algebra; all-integer, so the
    four-recursive-CTE DuckDB replay hashes identically."""
    from xmlschemavalidator_spark.weburl import bowtie_decomposition

    return bowtie_decomposition(_bowtie_edges(spark, sf_dir), max_hops=32)


def _mk_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import mann_kendall_oracle_sql

    return mann_kendall_oracle_sql(
        """SELECT event_type, CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
               AS BIGINT) AS x, CAST(count(*) AS BIGINT) AS y
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""",
        group_sql="event_type",
    )


@q("mann_kendall_daily_events", _mk_oracle())
def mann_kendall_daily_events(spark, sf_dir):
    """Mann–Kendall trend test (checks/stats.py:mann_kendall; Mann 1945
    / Kendall 1975 with the FULL both-margins tie-corrected variance)
    over the SAME per-type daily event series theil_sen_daily_events
    fits — the classic pairing: Sen's slope says how steep, MK says
    whether it's real. S from the quantized cell-pair join in exact
    DECIMAL, tie sums from the marginal tables, continuity-corrected z
    and the shared A&S p; verdict by integer-milli compare. O(days²)
    cells per group by the bounded-series contract."""
    from xmlschemavalidator_spark.checks.stats import mann_kendall

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("x"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    return mann_kendall(daily, "x", "y", group_cols=("event_type",))


def _bf_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import brown_forsythe_oracle_sql

    return brown_forsythe_oracle_sql(
        "SELECT lang AS grp, CAST(n_chars AS DOUBLE) AS val FROM documents"
        " WHERE lang IS NOT NULL AND n_chars IS NOT NULL"
    )


@q("lang_spread_brown_forsythe", _bf_oracle())
def lang_spread_brown_forsythe(spark, sf_dir):
    """Brown–Forsythe variance-homogeneity test (checks/stats.py:
    brown_forsythe, 1974 — Levene with the median center) across
    per-language doc-length cohorts: the PRECONDITION check for every
    pooled-variance verdict (anova_f, cohens_d, the experiment family)
    and a variance-drift analyzer in its own right. Per-group LOWER
    medians rank-selected over quantized integers, |x−med| exact
    integers, the anova F chain over DECIMAL sums — oracle-exact."""
    from xmlschemavalidator_spark.checks.stats import brown_forsythe

    docs = _t(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull()
    )
    return brown_forsythe(
        docs.select("lang", F.col("n_chars").cast("double").alias("val")),
        "val",
        "lang",
    )


def _capture_oracle() -> str:
    from xmlschemavalidator_spark.dedup import capture_recapture_oracle_sql

    a = (
        f"SELECT id_a, id_b FROM ({_ORACLES['minhash_lsh_pairs_portable']})"
        " WHERE (id_a + id_b) % 3 <> 0"
    )
    b = (
        f"SELECT id_a, id_b FROM ({_ORACLES['ngram_jaccard_pairs']})"
        " WHERE (id_a * 7 + id_b) % 4 <> 0"
    )
    return capture_recapture_oracle_sql(a, b)


@q("dedup_capture_recapture", _capture_oracle())
def dedup_capture_recapture(spark, sf_dir):
    """Capture–recapture dedup-coverage estimate (dedup.py:
    capture_recapture_estimate — Chapman 1951's bias-corrected
    Lincoln–Petersen): two detectors with PLANTED independent misses
    (the portable-MinHash pair set dropping pairs on one id-parity, the
    n-gram-Jaccard set on another) overlap on m pairs; N̂ =
    (n_a+1)(n_b+1)/(m+1)−1 estimates the true pair population
    INCLUDING what both missed, grading each detector's recall without
    ground truth — the question dedup_method_evaluation can only
    answer against planted truth. Three distinct-count partial aggs +
    one inner join; Chapman variance + union-clamped normal CI;
    correlated-miss caveat disclosed in the operator docstring."""
    from xmlschemavalidator_spark.dedup import capture_recapture_estimate

    mh = _QUERIES["minhash_lsh_pairs_portable"](spark, sf_dir).where(
        (F.col("id_a") + F.col("id_b")) % 3 != 0
    )
    ng = _QUERIES["ngram_jaccard_pairs"](spark, sf_dir).where(
        (F.col("id_a") * 7 + F.col("id_b")) % 4 != 0
    )
    return capture_recapture_estimate(mh, ng)


def _ht_oracle() -> str:
    from xmlschemavalidator_spark.sampling import poisson_ht_oracle_sql

    return poisson_ht_oracle_sql(
        "SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS y,"
        " CAST(n_chars AS DOUBLE) AS size"
        " FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0",
        expected_n=100,
        salt="ht",
    )


@q("ht_total_chars_estimate", _ht_oracle())
def ht_total_chars_estimate(spark, sf_dir):
    """Poisson πps sampling + Horvitz–Thompson total (sampling.py:
    poisson_ht_estimate, Horvitz & Thompson JASA 1952): estimate total
    corpus characters from a ~100-doc size-proportional sample — the
    unequal-probability member of the audit family beside Neyman
    stratification; sampling self-weights big docs near-certain (π∝size
    capped at 1, making this the size-biased-but-unbiased design). The
    md5 draw, the fixed IEEE π chain and the 12dp-round-then-DECIMAL
    estimator sums replay identically in the oracle; y == size here
    makes the per-row ratio ≈ constant, so the CI is tight and the
    design's variance shrinkage is itself measured."""
    from xmlschemavalidator_spark.sampling import poisson_ht_estimate

    docs = _t(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)
    )
    frame = docs.select(
        F.col("doc_id").alias("id"),
        F.col("n_chars").cast("double").alias("y"),
        F.col("n_chars").cast("double").alias("size"),
    )
    return poisson_ht_estimate(frame, "id", "y", "size", expected_n=100, salt="ht")


def _sprt_oracle() -> str:
    from xmlschemavalidator_spark.checks.sequence import sprt_oracle_sql

    return sprt_oracle_sql(
        "SELECT event_id AS t, event_type <> 'error' AS y FROM events"
        " WHERE event_id IS NOT NULL AND event_type IS NOT NULL",
        p0_milli=850,
        p1_milli=750,
    )


@q("events_sprt_error_monitor", _sprt_oracle())
def events_sprt_error_monitor(spark, sf_dir):
    """Wald's SPRT (checks/sequence.py:sprt_monitor, 1945) watching the
    event stream's non-error rate in arrival order — the always-peeking
    sequential monitor fixed-n tests forbid: H0 healthy (85% pass) vs
    H1 degraded (75%), α=β=5%. The measured ~80% stream sits between
    the hypotheses, so the earliest-crossing semantics and the exact
    integer LLR walk (two Python-computed micro literals consumed by
    both engines, BIGINT cumsum, literal boundaries) are what the hash
    pins. Completes the monitoring family: the Hampel filter flags
    outliers in aggregates; SPRT DECIDES with guaranteed error rates."""
    from xmlschemavalidator_spark.checks.sequence import sprt_monitor

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_id").isNotNull() & F.col("event_type").isNotNull()
    )
    stream = ev.select(
        F.col("event_id").alias("t"),
        (F.col("event_type") != "error").alias("y"),
    )
    return sprt_monitor(stream, "t", "y", p0_milli=850, p1_milli=750)


def _cliffs_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import cliffs_delta_oracle_sql

    return cliffs_delta_oracle_sql(
        "SELECT lang AS grp, CAST(n_chars AS DOUBLE) AS val FROM documents"
        " WHERE lang IS NOT NULL AND n_chars IS NOT NULL",
        "en",
        "zh",
    )


@q("lang_cliffs_delta", _cliffs_oracle())
def lang_cliffs_delta(spark, sf_dir):
    """Cliff's delta ordinal effect size (checks/stats.py:cliffs_delta,
    Cliff 1993) of en vs zh doc lengths — the HOW-BIG companion to the
    Mann–Whitney significance machinery and the no-normality-bet
    sibling of cohens_d; Romano 2006's magnitude ladder decided by
    cross-multiplied exact integers. Shared-grid cell products via one
    bounded window + one join — never an n_a×n_b pair walk."""
    from xmlschemavalidator_spark.checks.stats import cliffs_delta

    docs = _t(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("n_chars").isNotNull()
    )
    return cliffs_delta(
        docs.select("lang", F.col("n_chars").cast("double").alias("val")),
        "val",
        "lang",
        "en",
        "zh",
    )


def _friedman_oracle() -> str:
    from xmlschemavalidator_spark.checks.stats import friedman_oracle_sql
    from xmlschemavalidator_spark.textops import _WS

    ntok = (
        "(CASE WHEN trim(coalesce(text, '')) = '' THEN 0 ELSE"
        f" len(string_split_regex(trim(text), '{_WS}+')) END)"
    )
    return friedman_oracle_sql(
        f"""SELECT doc_id AS blk, 'chars' AS trt, CAST(n_chars AS DOUBLE) / 500
             AS val FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
           UNION ALL
           SELECT doc_id, 'tokens', CAST({ntok} AS DOUBLE) / 80
             FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
           UNION ALL
           SELECT doc_id, 'length', CAST(length(coalesce(text, '')) AS DOUBLE) / 520
             FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL"""
    )


@q("doc_scorer_friedman", _friedman_oracle())
def doc_scorer_friedman(spark, sf_dir):
    """Friedman test (checks/stats.py:friedman_test, 1937) across three
    normalized length scorers applied to the SAME docs — the blocked
    rank ANOVA completing Kruskal–Wallis (independent cohorts) for the
    scorer-per-doc shape, where between-doc variation is ranked away
    inside each block; the complement of Kendall's W (W asks do they
    AGREE, Friedman asks does one scorer systematically rank HIGHER).
    Doubled integer ranks (the wilcoxon device), exact tie term,
    Wilson–Hilferty chi²(k−1) tail — oracle-exact."""
    from xmlschemavalidator_spark.checks.stats import friedman_test
    from xmlschemavalidator_spark.textops import token_count

    docs = _t(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    tl = F.length(F.coalesce(F.col("text"), F.lit("")))
    stacked = (
        docs.select(
            F.col("doc_id").alias("blk"),
            F.lit("chars").alias("trt"),
            (F.col("n_chars").cast("double") / 500).alias("val"),
        )
        .unionByName(
            docs.select(
                F.col("doc_id").alias("blk"),
                F.lit("tokens").alias("trt"),
                (token_count(F.col("text")).cast("double") / 80).alias("val"),
            )
        )
        .unionByName(
            docs.select(
                F.col("doc_id").alias("blk"),
                F.lit("length").alias("trt"),
                (tl.cast("double") / 520).alias("val"),
            )
        )
    )
    return friedman_test(stacked, "blk", "trt", "val")


def _dw_oracle() -> str:
    from xmlschemavalidator_spark.checks.sequence import durbin_watson_oracle_sql

    return durbin_watson_oracle_sql(
        """SELECT day AS t, CAST(n_events AS DOUBLE) AS val FROM (
             SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
               AS BIGINT) AS day, CAST(count(*) AS BIGINT) AS n_events
             FROM events WHERE ts IS NOT NULL GROUP BY 1)"""
    )


@q("events_durbin_watson", _dw_oracle())
def events_durbin_watson(spark, sf_dir):
    """Durbin–Watson serial-correlation screen (checks/sequence.py:
    durbin_watson, 1950) over the daily event-count series — the
    adjacency check under ols_trend/theil_sen/mann_kendall on the SAME
    series: a level series (counts, not residuals) reads strongly
    positive-autocorrelated, which is exactly what the statistic
    should say and the hash pins. Exact DECIMAL sums over integer
    squares, one division, cross-multiplied verdict bands."""
    from xmlschemavalidator_spark.checks.sequence import durbin_watson

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("t")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return durbin_watson(
        daily.select("t", F.col("n_events").cast("double").alias("val")),
        "t",
        "val",
    )


def _runs_oracle() -> str:
    from xmlschemavalidator_spark.checks.sequence import runs_test_oracle_sql

    return runs_test_oracle_sql(
        "SELECT event_id AS t, event_type <> 'error' AS y FROM events"
        " WHERE event_id IS NOT NULL AND event_type IS NOT NULL"
    )


@q("events_runs_test", _runs_oracle())
def events_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test (checks/sequence.py:runs_test, 1940)
    on the event stream's pass/fail-by-arrival sequence — the
    EXCHANGEABILITY check under the monitoring family: SPRT decides
    the rate assuming independence, this tests the assumption
    (clustered errors → too few runs). Exact integer run count from
    one lag compare, fixed E/Var chains, A&S p, integer-milli
    verdict."""
    from xmlschemavalidator_spark.checks.sequence import runs_test

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_id").isNotNull() & F.col("event_type").isNotNull()
    )
    stream = ev.select(
        F.col("event_id").alias("t"),
        (F.col("event_type") != "error").alias("y"),
    )
    return runs_test(stream, "t", "y")


def _moran_oracle() -> str:
    from xmlschemavalidator_spark.weburl import morans_i_oracle_sql

    return morans_i_oracle_sql(
        _EDGES_SQL,
        "SELECT DISTINCT doc_id % 60 AS node,"
        " CAST((doc_id % 60) % 7 AS DOUBLE) AS val FROM documents",
    )


@q("link_morans_i", _moran_oracle())
def link_morans_i(spark, sf_dir):
    """Moran's I network autocorrelation (weburl.py:morans_i — Moran
    1950 with the full Cliff–Ord randomization variance, not the
    normality shortcut) of a planted node attribute over the 60-node
    link graph: the do-connected-pages-share-quality question — spam
    clustering along links reads I > E[I]. Every moment 6dp-rounded
    then DECIMAL-summed; fixed double chains; integer-milli verdict.
    Two node-keyed attr joins + degree aggs, nothing quadratic."""
    from xmlschemavalidator_spark.weburl import morans_i

    docs = _t(spark, sf_dir, "documents")
    attrs = docs.select(
        (F.col("doc_id") % 60).alias("node"),
        ((F.col("doc_id") % 60) % 7).cast("double").alias("val"),
    ).distinct()
    return morans_i(_edges(spark, sf_dir), attrs, "val")


def _geary_oracle() -> str:
    from xmlschemavalidator_spark.weburl import gearys_c_oracle_sql

    return gearys_c_oracle_sql(
        _EDGES_SQL,
        "SELECT DISTINCT doc_id % 60 AS node,"
        " CAST((doc_id % 60) % 7 AS DOUBLE) AS val FROM documents",
    )


@q("link_gearys_c", _geary_oracle())
def link_gearys_c(spark, sf_dir):
    """Geary's C (weburl.py:gearys_c, 1954) over the SAME planted graph
    and attribute as link_morans_i — the local-difference sibling run
    side by side (they disagree exactly when the structure is local,
    which is the point of reporting both). C itself is EXACT INTEGERS
    to one division via n·Σz² = n·Σx²−S²; only the Cliff–Ord
    randomization variance touches floats."""
    from xmlschemavalidator_spark.weburl import gearys_c

    docs = _t(spark, sf_dir, "documents")
    attrs = docs.select(
        (F.col("doc_id") % 60).alias("node"),
        ((F.col("doc_id") % 60) % 7).cast("double").alias("val"),
    ).distinct()
    return gearys_c(_edges(spark, sf_dir), attrs, "val")
