"""URL & web-graph layer for web-scale corpus pipelines.

The reference (eliassona/xmlschemavalidator, core.clj/parser.clj) is a
schema validator and has no URL layer; these operators come from the
north rule's webtext axis — every published web-corpus pipeline (C4,
RefinedWeb, FineWeb, CCNet) filters and deduplicates on URL *before*
touching text, and weights or filters documents by link-graph signals
(Common Crawl publishes harmonic-centrality/PageRank rankings for
exactly this use).

Engine-portability: unlike :func:`textops.url_normalize` (JVM
``parse_url``, not expressible in DuckDB — its driver query is
rows-only), everything here is a regex/HOF pipeline with a DuckDB SQL
renderer, so every operator gets an oracle-exact driver query. Two
divergence traps handled explicitly:

* DuckDB ``regexp_replace`` replaces the FIRST match unless passed the
  ``'g'`` option; Spark always replaces all. The SQL renderers pass
  ``'g'`` everywhere.
* DuckDB ``array_to_string([])`` is NULL where Spark ``array_join`` is
  ``''`` — the query-string renderer wraps with ``coalesce``.

Scale shapes (the 100 TB question):

* canonicalization / domain extraction / link extraction: narrow
  per-row projections, whole-stage codegen, zero shuffles;
* URL dedup: ``min(struct)`` group-by (partial-aggregatable — map-side
  combine absorbs hot canonical URLs) + a semi join back, never a
  window sort over a possibly-degenerate key;
* per-domain caps: two-phase salted ``row_number`` so one mega-domain
  cannot pin a single task (phase 1 bounds every group to
  ``cap`` rows per salt, phase 2 sees ≤ ``cap·n_salts`` rows/domain);
* PageRank: the classic iterative join+aggregate (Malewicz et al.,
  Pregel, SIGMOD'10 §2 formulation) with integer micro-unit arithmetic
  so results are bit-exact across engines, lineage cut per iteration
  (localCheckpoint + freeing, same discipline as dedup.py's CC loops).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from xmlschemavalidator_spark.rules.facets import sql_lit

# ---------------------------------------------------------------------------
# shared regex/vocabulary constants — each drives BOTH the Spark Column
# builder and the DuckDB SQL renderer (single source of truth, the
# textops._HTML_RULES pattern)
# ---------------------------------------------------------------------------

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_REST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(.*)$"

#: query parameters that carry tracking state, not content identity
#: (utm_* per Google Analytics docs; fbclid/gclid/msclkid/dclid are the
#: FB/Google/Microsoft click ids). Matched case-sensitively against the
#: raw ``key=`` prefix — these are lowercase on the wire.
TRACKING_PARAM_RE = (
    r"^(utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|dclid|mc_cid|mc_eid"
    r"|igshid|spm|ref_src)="
)

#: common two-level public suffixes (registrable domain = one label more
#: than the public suffix). A full public-suffix list would be a broadcast
#: join against a suffix dim at scale; this built-in core keeps the
#: operator dependency-free and deterministic, and covers the suffixes
#: that dominate web crawls. Single-level TLDs fall through to the
#: last-two-labels rule.
TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "org.nz", "net.nz",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
    "com.my", "com.vn", "com.ua", "com.pl",
    "co.in", "co.kr", "co.za", "co.id",
)

_TLD_ALT = "|".join(s.replace(".", r"\.") for s in TWO_LEVEL_SUFFIXES)
#: leftmost-first alternation: both Java regex and RE2 prefer the earlier
#: alternative, so two-level suffixes win over the generic [^.]+ tail.
REGISTERED_DOMAIN_RE = rf"([^.]+\.(?:{_TLD_ALT}|[^.]+))$"

_IPV4ISH_RE = r"^[0-9.]+$"

# the explicit whitespace class (CLAUDE.md hard rule: Java \s includes
# \x0B, RE2 excludes it — dual-engine patterns must spell the class).
# Imported from textops so the parity-critical class has ONE definition
# (review finding: a local copy could drift from the canonical one).
from xmlschemavalidator_spark.textops import _WS  # noqa: E402

#: href extraction: quoted values only (unquoted href is <1% of crawl
#: HTML and needs a different terminator class); the leading
#: ``(?:[^>]*WS)?`` requires ``href`` to start an attribute name, so
#: ``data-href=`` cannot match. Char-class quotes (not a backreference —
#: RE2 has none) mean a mismatched-quote attr terminates at the first
#: quote of either kind, which is the safe direction for extraction.
HREF_RE = (
    rf"(?is)<a{_WS}(?:[^>]*{_WS})?href{_WS}*={_WS}*"
    rf"[\"']([^\"'<>]+)[\"']"
)


# ---------------------------------------------------------------------------
# canonical URL
# ---------------------------------------------------------------------------

def canonical_query(q: Column) -> Column:
    """Tracking params dropped, remaining ``k=v`` pairs sorted — the
    dedup-stable form of a query string ('' in, '' out)."""
    parts = F.split(q, "&")
    kept = F.filter(
        parts, lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE)
    )
    return F.array_join(F.array_sort(kept), "&")


def canonical_query_sql(x: str) -> str:
    """DuckDB rendering of :func:`canonical_query` over expression ``x``.
    ``coalesce`` because DuckDB ``array_to_string([])`` is NULL."""
    track = sql_lit(TRACKING_PARAM_RE)
    return (
        "coalesce(array_to_string(list_sort(list_filter("
        f"string_split({x}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, {track}))), '&'), '')"
    )


def canonical_url(url: Column, strip_www: bool = True) -> Column:
    """Dedup-canonical URL: lower-cased scheme and host, userinfo
    dropped, default port stripped (http:80 / https:443; other ports
    kept), optional leading ``www.`` stripped, duplicate path slashes
    collapsed, trailing path slashes dropped (empty path → ``/``),
    fragment dropped, tracking query params removed and the survivors
    sorted. Inputs without a ``scheme://`` pass through trimmed (relative
    URLs have no canonical absolute form without a base).

    All Catalyst built-ins, one codegen pass; the repeated
    ``regexp_extract`` subtrees are lambda-free so codegen's runtime
    subexpression elimination collapses them. The one HOF subtree (the
    query-param filter+sort) is let-bound through the
    ``F.get(F.transform(F.array(...)))`` trick so it evaluates ONCE —
    lambda subtrees are excluded from codegen CSE (CLAUDE.md hard rule;
    review finding: the earlier ``when(q == '') ... concat('?', q)``
    form evaluated the whole pipeline twice per row).
    """
    t = F.trim(url)
    scheme = F.lower(F.regexp_extract(t, _SCHEME_RE, 1))
    rest = F.regexp_extract(t, _REST_RE, 1)
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    hostport = F.lower(F.regexp_replace(authority, r"^[^@]*@", ""))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    pq = F.regexp_extract(rest, r"^[^/?#]*([^#]*)", 1)
    path_stripped = F.regexp_replace(
        F.regexp_replace(F.regexp_extract(pq, r"^([^?]*)", 1), "/{2,}", "/"),
        "/+$",
        "",
    )
    path = F.when(path_stripped == "", F.lit("/")).otherwise(path_stripped)
    q = canonical_query(F.regexp_extract(pq, r"^[^?]*\?(.*)$", 1))
    q_tail = F.get(
        F.transform(
            F.array(q),
            lambda qq: F.when(qq == "", F.lit("")).otherwise(
                F.concat(F.lit("?"), qq)
            ),
        ),
        0,
    )
    canon = F.concat(scheme, F.lit("://"), host, path, q_tail)
    return F.when(t.rlike(_SCHEME_RE), canon).otherwise(t)


def canonical_url_sql(x: str, strip_www: bool = True) -> str:
    """DuckDB rendering of :func:`canonical_url` over expression ``x`` —
    same steps, 'g'-flagged replaces (DuckDB defaults to first-match)."""
    t = f"trim({x})"
    scheme = f"lower(regexp_extract({t}, {sql_lit(_SCHEME_RE)}, 1))"
    rest = f"regexp_extract({t}, {sql_lit(_REST_RE)}, 1)"
    authority = f"regexp_extract({rest}, '^([^/?#]*)', 1)"
    hostport = f"lower(regexp_replace({authority}, '^[^@]*@', '', 'g'))"
    host = (
        f"CASE WHEN {scheme} = 'http' "
        f"THEN regexp_replace({hostport}, ':80$', '', 'g') "
        f"WHEN {scheme} = 'https' "
        f"THEN regexp_replace({hostport}, ':443$', '', 'g') "
        f"ELSE {hostport} END"
    )
    if strip_www:
        host = f"regexp_replace({host}, '^www\\.', '', 'g')"
    pq = f"regexp_extract({rest}, '^[^/?#]*([^#]*)', 1)"
    path_stripped = (
        "regexp_replace(regexp_replace("
        f"regexp_extract({pq}, '^([^?]*)', 1), '/{{2,}}', '/', 'g'), "
        "'/+$', '', 'g')"
    )
    path = f"CASE WHEN {path_stripped} = '' THEN '/' ELSE {path_stripped} END"
    q = canonical_query_sql(f"regexp_extract({pq}, '^[^?]*\\?(.*)$', 1)")
    canon = (
        f"concat({scheme}, '://', {host}, {path}, "
        f"CASE WHEN {q} = '' THEN '' ELSE concat('?', {q}) END)"
    )
    return (
        f"CASE WHEN regexp_matches({t}, {sql_lit(_SCHEME_RE)}) "
        f"THEN {canon} ELSE {t} END"
    )


def canonical_host(canon_url: Column) -> Column:
    """Host of an already-canonical URL (port excluded)."""
    return F.regexp_extract(canon_url, r"^[a-z][a-z0-9+.-]*://([^/?#:]*)", 1)


def canonical_host_sql(x: str) -> str:
    return f"regexp_extract({x}, '^[a-z][a-z0-9+.-]*://([^/?#:]*)', 1)"


def registered_domain(host: Column) -> Column:
    """Registrable domain of a host: one label above the public suffix
    for the built-in two-level suffixes (``news.example.co.uk`` →
    ``example.co.uk``), else last two labels; IPv4-ish hosts and
    dot-free hosts pass through whole. Improves on
    :func:`textops.url_registrable_domain` (naive last-two: co.uk sites
    all collapse to ``co.uk``) and is DuckDB-renderable."""
    ext = F.regexp_extract(host, REGISTERED_DOMAIN_RE, 1)
    return F.when(
        host.rlike(_IPV4ISH_RE) | (ext == ""), host
    ).otherwise(ext)


def registered_domain_sql(x: str) -> str:
    reg = sql_lit(REGISTERED_DOMAIN_RE)
    return (
        f"CASE WHEN regexp_matches({x}, {sql_lit(_IPV4ISH_RE)}) "
        f"OR regexp_extract({x}, {reg}, 1) = '' THEN {x} "
        f"ELSE regexp_extract({x}, {reg}, 1) END"
    )


# ---------------------------------------------------------------------------
# URL dedup + per-domain caps + filters
# ---------------------------------------------------------------------------

def _canonical_winner_dedup(
    df: DataFrame,
    url_col: str,
    sort_key: Column,
    id_col: str,
    canonical_col: str,
    strip_www: bool,
) -> DataFrame:
    """The shared shape of :func:`url_dedup` / :func:`snapshot_dedup`:
    canonicalize, pick one winner per canonical URL as
    ``min(struct(sort_key, id))`` — a partial-aggregatable min, so a
    degenerate hot key (a canonical URL with millions of copies, e.g. a
    crawler trap) combines map-side and contributes one row per input
    partition to the final agg. The window-sort alternative
    (``row_number`` over the URL) cannot split one hot key across tasks;
    the agg can. Kept rows come back via a semi join on
    (canonical, id).

    ``sort_key`` must be NULL-free: struct-min orders a NULL field
    FIRST, so an un-coalesced NULL would WIN (review finding, reproduced
    live) — callers coalesce to a losing sentinel."""
    canon = df.withColumn(
        canonical_col, canonical_url(F.col(url_col), strip_www=strip_www)
    )
    winners = (
        canon.groupBy(canonical_col)
        .agg(
            F.min(
                F.struct(
                    sort_key.alias("k"),
                    F.col(id_col).alias("id"),
                )
            ).alias("w")
        )
        .select(F.col(canonical_col), F.col("w.id").alias(id_col))
    )
    return canon.join(winners, [canonical_col, id_col], "left_semi")


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    length_col: str = "n_chars",
    id_col: str = "doc_id",
    canonical_col: str = "canonical_url",
    strip_www: bool = True,
) -> DataFrame:
    """One document per canonical URL — longest text wins, ties break to
    the smallest id (deterministic, rerun-stable). Scale shape:
    :func:`_canonical_winner_dedup`. NULL length is treated as -1 so it
    loses to every real length."""
    neg_len = -F.coalesce(F.col(length_col).cast("long"), F.lit(-1))
    return _canonical_winner_dedup(
        df, url_col, neg_len, id_col, canonical_col, strip_www
    )


def snapshot_dedup(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
    canonical_col: str = "canonical_url",
    strip_www: bool = True,
) -> DataFrame:
    """One document per canonical URL — the NEWEST capture wins, ties
    break to the smallest id. Common Crawl re-fetches popular URLs every
    snapshot, so a multi-snapshot corpus holds many captures of one page;
    training pipelines keep the freshest (the content-aware alternative,
    longest-text, is :func:`url_dedup`). Scale shape:
    :func:`_canonical_winner_dedup`.

    ``ts_col`` must cast to BIGINT: a timestamp column works directly
    (timestamp→long is a legal ANSI cast, epoch seconds — the pipeline
    passes the pages-shape ``warc_ts`` as-is), as does any monotone
    numeric. A NULL capture time loses to every dated capture (newest =
    max ts = min(-ts), and the NULL sentinel +2^62 ranks last)."""
    neg_ts = -F.coalesce(F.col(ts_col).cast("long"), F.lit(-(2**62)))
    return _canonical_winner_dedup(
        df, url_col, neg_ts, id_col, canonical_col, strip_www
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    cap: int,
    order_col: str | None = None,
    id_col: str = "doc_id",
    n_salts: int = 32,
    rank_col: str | None = None,
) -> DataFrame:
    """At most ``cap`` documents per domain — the anti-domain-dominance
    cap web pipelines apply so one mega-site cannot swamp the corpus.
    Keeps the top ``cap`` by ``order_col`` descending (ties, or no
    ``order_col``: smallest ``id_col`` first) — deterministic.

    Two-phase salted top-k: phase 1 ranks within (domain, salt) and
    keeps ``cap`` per salt-group — each global winner is necessarily in
    its own salt-group's top ``cap``, so phase 1 keeps a superset —
    phase 2 ranks the ≤ ``cap·n_salts`` survivors per domain. A single
    window over a skewed domain would sort the whole mega-domain in one
    task; the salted phase bounds every task's sort to its salt slice.

    ``rank_col``: optionally keep phase 2's per-domain rank (1-based,
    in ``order``) as an output column instead of dropping it.
    """
    order = (
        [F.col(order_col).desc()] if order_col is not None else []
    ) + [F.col(id_col).asc()]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    )
    w1 = Window.partitionBy(domain_col, "_salt").orderBy(*order)
    phase1 = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )
    w2 = Window.partitionBy(domain_col).orderBy(*order)
    rn = rank_col or "_rn"
    out = (
        phase1.withColumn(rn, F.row_number().over(w2))
        .where(F.col(rn) <= cap)
        .drop("_salt")
    )
    return out if rank_col else out.drop("_rn")


def url_badword_pattern(words: list[str]) -> str:
    """Case-insensitive substring alternation over the lowercased URL —
    the C4 'bad words in URL' filter shape (substring, not word-bound:
    URLs have no word boundaries worth trusting)."""
    return "(" + "|".join(_re.escape(w.lower()) for w in sorted(words)) + ")"


def url_badword_filter(
    df: DataFrame, url_col: str, words: list[str]
) -> DataFrame:
    """Drop documents whose URL contains any listed word (lowercased
    substring match). Narrow filter; the pattern is a literal
    alternation so both engines treat it identically."""
    pat = url_badword_pattern(words)
    return df.where(~F.lower(F.col(url_col)).rlike(pat))


def domain_quality_gate(
    df: DataFrame,
    domain_col: str,
    score_col: str,
    min_avg: float,
) -> DataFrame:
    """Keep only documents from domains whose mean ``score_col`` is at
    least ``min_avg`` — the site-level quality gate (a domain whose
    documents are uniformly boilerplate is dropped whole, catching pages
    that individually sneak past per-doc filters).

    The comparison is ``sum(score) >= min_avg · count`` in DECIMAL — no
    division, no float summation order, so the kept-domain set is exact
    and oracle-comparable. Partial-aggregatable agg + a semi join back;
    the fact side never sorts."""
    per = df.groupBy(domain_col).agg(
        F.sum(F.col(score_col).cast("decimal(28,6)")).alias("_ssum"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    kept = per.where(
        F.col("_ssum")
        >= F.lit(min_avg).cast("decimal(28,6)") * F.col("_cnt")
    ).select(domain_col)
    return df.join(kept, domain_col, "left_semi")


def domain_lang_coherence(
    df: DataFrame, domain_col: str, lang_col: str = "lang"
) -> DataFrame:
    """Per-domain language coherence → ``(domain, n_docs, top_lang,
    top_share_micro)``: the dominant language's document share in
    millionths. A domain serving many languages in equal measure is a
    machine-translation-spam / scraped-aggregator signal (CCNet-style
    curation treats language-incoherent sites with suspicion), and the
    share feeds the same site-level gating as
    :func:`domain_quality_gate`.

    Exactness: the share is ``cnt·10⁶ div n_docs`` in BIGINT — integer
    division, no float rounding mode to diverge between engines. Scale
    shape: two partial-aggregatable aggs ((domain, lang) count, then a
    min(struct) winner + sum per domain) — never a window over a
    possibly-degenerate domain. Ties break to the lexicographically
    smallest language. NULL lang is coalesced to 'und' (the lang_id
    convention) BEFORE counting — dual-engine divergence otherwise:
    Spark's min(struct) sorts a NULL field FIRST while DuckDB's ORDER BY
    defaults NULLS LAST, so a NULL tying for top would pick different
    winners (review finding)."""
    per = df.groupBy(
        domain_col, F.coalesce(F.col(lang_col), F.lit("und")).alias(lang_col)
    ).agg(F.count(F.lit(1)).alias("_cnt"))
    dom = per.groupBy(domain_col).agg(
        F.sum("_cnt").alias("n_docs"),
        F.min(
            F.struct(
                (-F.col("_cnt")).alias("neg"),
                F.col(lang_col).alias("lang"),
            )
        ).alias("w"),
    )
    return dom.select(
        domain_col,
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("w.lang").alias("top_lang"),
        F.expr("(-w.neg) * 1000000 div n_docs").alias("top_share_micro"),
    )


# ---------------------------------------------------------------------------
# link graph
# ---------------------------------------------------------------------------

def extract_links(html: Column) -> Column:
    """Array of href values from anchor tags (quoted attributes,
    case-insensitive, ``data-href`` etc. excluded — see :data:`HREF_RE`).
    Document order preserved (``regexp_extract_all`` scans left to
    right in both engines)."""
    return F.regexp_extract_all(html, F.lit(HREF_RE), F.lit(1))


def extract_links_sql(x: str) -> str:
    return f"regexp_extract_all({x}, {sql_lit(HREF_RE)}, 1)"


#: anchor tag WITH its visible text: HREF_RE's attribute-boundary prefix,
#: then the rest of the opening tag, then plain inner text up to the
#: closing tag. ``([^<]*)`` (not a lazy ``.*?``) keeps the match linear
#: and means anchors wrapping nested markup (<a><b>x</b></a>) are skipped
#: rather than half-captured — the conservative direction for a corpus
#: signal. RE2-safe: no lookaround, no backreferences.
ANCHOR_RE = (
    rf"(?is)<a{_WS}(?:[^>]*{_WS})?href{_WS}*={_WS}*"
    rf"[\"']([^\"'<>]+)[\"'][^>]*>([^<]*)</a>"
)

#: absolute http(s) links only — anchor aggregation has no base URL to
#: resolve relative hrefs against (WAT metadata does; HTML alone doesn't)
_ABS_HTTP_RE = r"(?i)^https?://"


def anchor_texts(html: Column) -> Column:
    """``array<struct<url,text>>`` of anchor links with their visible
    text, in document order. Spark's ``regexp_extract_all`` returns one
    group per call, so the full match is extracted first and both groups
    are re-extracted per element — each re-extract runs on a short match
    string, not the document."""
    ms = F.regexp_extract_all(html, F.lit(ANCHOR_RE), F.lit(0))
    return F.transform(
        ms,
        lambda m: F.struct(
            F.regexp_extract(m, ANCHOR_RE, 1).alias("url"),
            F.regexp_extract(m, ANCHOR_RE, 2).alias("text"),
        ),
    )


def anchor_text_topk(
    df: DataFrame,
    html_col: str = "html",
    cap: int = 20,
    n_salts: int = 32,
) -> DataFrame:
    """Per-target anchor-text aggregation → ``(target, anchor, n_refs,
    rank)``: the top-``cap`` anchor texts pointing at each canonical
    target URL, ranked by reference count (ties: lexicographically
    smaller anchor first). The classic web-graph-derived text signal —
    anchor text describes the *target* page better than the page itself
    (TREC/ORCAS-style anchor corpora are built exactly this way) — and a
    training-data source in its own right.

    Scale shape: explode → canonicalize → ``(target, anchor)`` count
    (partial-aggregatable: a page linked a billion times combines
    map-side) → the salted two-phase top-k (:func:`domain_cap`), so a
    mega-target (everyone links the homepage) never pins one task's
    sort. Anchor text is whitespace-collapsed and trimmed; empty anchors
    and non-absolute hrefs are dropped (no base URL to resolve against).
    """
    pairs = (
        df.select(F.explode(anchor_texts(F.col(html_col))).alias("a"))
        .where(F.col("a.url").rlike(_ABS_HTTP_RE))
        .select(
            canonical_url(F.col("a.url")).alias("target"),
            F.trim(
                F.regexp_replace(F.col("a.text"), f"{_WS}+", " ")
            ).alias("anchor"),
        )
        .where(F.col("anchor") != "")
    )
    counts = pairs.groupBy("target", "anchor").agg(
        F.count(F.lit(1)).alias("n_refs")
    )
    capped = domain_cap(
        counts,
        "target",
        cap,
        order_col="n_refs",
        id_col="anchor",
        n_salts=n_salts,
        rank_col="rank",
    )
    return capped.withColumn("rank", F.col("rank").cast("long"))


def outlink_signals(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-page outlink shape signals → ``(doc, n_links, n_abs_links,
    n_target_domains, n_internal_links, domain_diversity_micro)``: link
    count, how many resolve to absolute http(s) targets, how many
    DISTINCT registrable domains those point at, how many stay on the
    page's own domain, and distinct-domains-per-absolute-link in BIGINT
    millionths. Link farms and SEO doorways show extreme values on both
    ends (hundreds of links to one domain, or one link each to hundreds)
    — a per-page prior the site-level gates can't see.

    All counts are integers and the ratio is integer division, so the
    oracle is exact. Plan: THREE chained projections, each let-binding
    what the next references more than once — the raw href array first
    (the regexp_extract_all over full HTML is the dominant cost and
    feeds both n_links and the domain transform), then the per-link
    canonical-domain array (HOF subtrees and CodegenFallback expressions
    are never CSE'd, so inlining either into both consumers would run it
    twice per row — the documented let-binding rule, and a review
    finding when only the second binding existed). Zero shuffles."""
    own = registered_domain(canonical_host(canonical_url(F.col(url_col))))
    s1 = df.select(
        F.col(id_col).alias("doc"),
        extract_links(F.col(html_col)).alias("_links"),
        own.alias("_own"),
    )
    tdoms = F.transform(
        F.filter(F.col("_links"), lambda u: u.rlike(_ABS_HTTP_RE)),
        lambda u: registered_domain(canonical_host(canonical_url(u))),
    )
    bound = s1.select(
        "doc",
        F.size("_links").cast("long").alias("n_links"),
        tdoms.alias("_tdoms"),
        "_own",
    )
    n_abs = F.size("_tdoms").cast("long")
    return bound.select(
        "doc",
        "n_links",
        n_abs.alias("n_abs_links"),
        F.size(F.array_distinct("_tdoms")).cast("long").alias(
            "n_target_domains"
        ),
        F.size(
            F.filter(F.col("_tdoms"), lambda d: d == F.col("_own"))
        ).cast("long").alias("n_internal_links"),
        F.when(
            n_abs > 0,
            F.expr(
                "size(array_distinct(_tdoms)) * cast(1000000 as bigint)"
                " div size(_tdoms)"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("domain_diversity_micro"),
    )


def outlink_signals_sql(html_sql: str, url_sql: str) -> str:
    """DuckDB rendering of :func:`outlink_signals`'s signal columns
    (FROM-less fragment: caller wraps with SELECT doc_id, ... FROM t).
    Returns the comma-joined column list."""
    links = extract_links_sql(html_sql)
    abs_links = (
        f"list_filter({links}, u -> regexp_matches(u, "
        f"{sql_lit(_ABS_HTTP_RE)}))"
    )
    tdoms = (
        f"list_transform({abs_links}, u -> "
        f"{registered_domain_sql(canonical_host_sql(canonical_url_sql('u')))})"
    )
    own = registered_domain_sql(canonical_host_sql(canonical_url_sql(url_sql)))
    return (
        f"CAST(len({links}) AS BIGINT) AS n_links, "
        f"CAST(len({tdoms}) AS BIGINT) AS n_abs_links, "
        f"CAST(len(list_distinct({tdoms})) AS BIGINT) AS n_target_domains, "
        f"CAST(len(list_filter({tdoms}, d -> d = {own})) AS BIGINT)"
        f" AS n_internal_links, "
        f"CAST(CASE WHEN len({tdoms}) > 0 THEN "
        f"len(list_distinct({tdoms})) * 1000000 // len({tdoms}) "
        f"ELSE 0 END AS BIGINT) AS domain_diversity_micro"
    )


# ---------------------------------------------------------------------------
# WAT metadata (Common Crawl's third format: per-page JSON incl. outlinks)
# ---------------------------------------------------------------------------

#: where the outlink list lives in a WAT record's JSON envelope
#: (Common Crawl WAT spec: Envelope → Payload-Metadata →
#: HTTP-Response-Metadata → HTML-Metadata → Links[{path, url, ...}])
_WAT_LINKS_PATH = (
    "$['Envelope']['Payload-Metadata']['HTTP-Response-Metadata']"
    "['HTML-Metadata']['Links']"
)
_WAT_LINKS_SCHEMA = "array<struct<path:string,url:string>>"

#: WAT link-path value marking an <a href> link (vs IMG@/src etc.)
WAT_ANCHOR_PATH = "A@/href"


def wat_outlinks(wat_json: Column, only_anchors: bool = False) -> Column:
    """Array of outlink URLs from a WAT record's JSON — the no-HTML-parse
    way to build the link graph (Common Crawl ships WAT precisely so
    consumers can skip fetching/parsing the 10× larger WARC). NULL when
    the record has no HTML-Metadata.Links. ``only_anchors`` keeps
    ``A@/href`` entries only (drops IMG/script/link resources)."""
    links = F.from_json(
        F.get_json_object(wat_json, _WAT_LINKS_PATH), _WAT_LINKS_SCHEMA
    )
    if only_anchors:
        links = F.filter(links, lambda x: x["path"] == F.lit(WAT_ANCHOR_PATH))
    return F.transform(links, lambda x: x["url"])


def wat_outlinks_sql(x: str, only_anchors: bool = False) -> str:
    """DuckDB rendering of :func:`wat_outlinks` over expression ``x``.

    Dual-engine divergence handled explicitly (review finding, verified
    live): DuckDB ``json_extract`` RAISES on malformed JSON where Spark
    ``get_json_object`` returns NULL — one truncated record would abort
    the whole oracle query, so the expression is gated on
    ``json_valid``."""
    path = (
        '\'$.Envelope."Payload-Metadata"."HTTP-Response-Metadata"'
        '."HTML-Metadata".Links\''
    )
    links = (
        f"from_json(json_extract({x}, {path}), "
        "'[{\"path\":\"VARCHAR\",\"url\":\"VARCHAR\"}]')"
    )
    if only_anchors:
        links = (
            f"list_filter({links}, x -> x.path = '{WAT_ANCHOR_PATH}')"
        )
    return (
        f"CASE WHEN json_valid({x}) "
        f"THEN list_transform({links}, x -> x.url) ELSE NULL END"
    )


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node in/out degree over the distinct edge set: ``(node,
    out_deg, in_deg)``. Two partial aggs + one full outer join on node."""
    e = edges.select(src, dst).distinct()
    outd = e.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    ind = e.groupBy(F.col(dst).alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        outd.join(ind, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity of the (undirected-treated) link graph
    (Newman PRL'02): the Pearson correlation of total degrees at the
    two ends of every edge — one row ``(n_edge_ends, assortativity,
    cov)``. r < 0 (hubs link to leaves) is the shape of organic web
    graphs; a crawl slice drifting ASSORTATIVE (r > 0, hubs linking
    hubs) is the link-farm / scraper-network signature, which makes
    this the one-number companion to outlink_signals' per-page priors.

    Semantics: edges are deduped and self-loops dropped, then each
    undirected edge contributes BOTH orientations (the standard
    symmetrized form — already-symmetric inputs are unchanged by the
    distinct), and degree = the symmetrized out-degree = total degree.

    Exactness: degrees are exact integers, so this rides
    checks/stats.py:pearson_correlation at quantum=1 — DECIMAL(38,0)
    moment sums, one IEEE-sqrt final. A degree-regular graph has zero
    variance → NULL r (undefined), never a div/0.

    Scale shape: one distinct + one partial-agg degree count, then TWO
    hash joins of the edge list against the degree table (on src, then
    dst — AQE broadcasts it when small) feeding ONE moment aggregate.
    Nothing wider than the edge list ever shuffles.
    """
    from xmlschemavalidator_spark.checks.stats import pearson_correlation

    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col(src) != F.col(dst))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).distinct()
    deg = sym.groupBy(F.col("_s").alias("_n")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    j = (
        sym.join(deg.select(F.col("_n").alias("_s"), F.col("_deg").alias("dx")), "_s")
        .join(deg.select(F.col("_n").alias("_d"), F.col("_deg").alias("dy")), "_d")
    )
    out = pearson_correlation(j, "dx", "dy", quantum=1)
    return out.select(
        F.col("n").alias("n_edge_ends"),
        F.col("corr").alias("assortativity"),
        "cov",
    )


def degree_assortativity_oracle_sql(edges_sql: str) -> str:
    """DuckDB replay: same symmetrization, same degree join, same
    DECIMAL moment sums and fixed double chain (cov divides by the
    quantum²=1)."""
    return f"""\
WITH e0 AS ({edges_sql}),
e AS (SELECT DISTINCT src AS s, dst AS d FROM e0 WHERE src <> dst),
sym AS (SELECT DISTINCT s, d FROM
        (SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e)),
deg AS (SELECT s AS n, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY s),
q AS (SELECT CAST(floor(CAST(dx.deg AS DOUBLE)) AS HUGEINT) AS x,
             CAST(floor(CAST(dy.deg AS DOUBLE)) AS HUGEINT) AS y
      FROM sym JOIN deg dx ON sym.s = dx.n JOIN deg dy ON sym.d = dy.n),
a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM q)
SELECT n AS n_edge_ends,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN CAST(round(
              (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
              AS DOUBLE) END AS assortativity,
       CASE WHEN n > 1 THEN CAST(round(
              ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)), 6)
              AS DOUBLE) END AS cov
FROM a"""


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank in integer micro-units → ``(node,
    rank_micro)``, bit-exact across engines and reruns.

    Formulation (Pregel, Malewicz et al. SIGMOD'10 §2): rank mass lives
    in BIGINT micro-units of ``scale`` total; each iteration every node
    sends ``rank div out_deg`` along each out-edge and recomputes
    ``base + damping·Σ incoming div 100``. All operations are integer
    division/multiplication — no float accumulation order to diverge, so
    the DuckDB oracle (:func:`pagerank_oracle_sql`, same arithmetic
    unrolled) hashes identically. Dangling-node mass is dropped, the
    standard simplification in the Pregel formulation (rank is then a
    relative ordering signal, which is how crawl pipelines consume it).

    Scale shape: per iteration ONE shuffle join (ranks ⋈ edges on src —
    the edges side is pre-joined with out-degrees once and checkpointed)
    feeding ONE partial-aggregated sum on dst, then a left join back to
    the node set; lineage is cut every iteration (eager localCheckpoint,
    previous round's blocks freed) exactly like dedup.py's CC loops —
    without the cut the plan doubles per round and the driver dies
    before the data does.
    """
    from xmlschemavalidator_spark.session import free_local_checkpoint

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_micro", F.lit(0).cast("long"))
    init = scale // n
    base = ((100 - damping_pct) * init) // 100
    edges_deg = (
        e.join(
            e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")), "src"
        )
        .localCheckpoint()
    )
    ranks = nodes.withColumn(
        "rank_micro", F.lit(init).cast("long")
    ).localCheckpoint()
    for _ in range(iterations):
        sums = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select(
                F.col("dst"),
                F.expr("rank_micro div out_deg").alias("_c"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_s"))
        )
        new = nodes.join(sums, nodes.node == sums.dst, "left").select(
            nodes.node,
            F.expr(
                f"CAST({base} AS BIGINT) + "
                f"(({damping_pct} * coalesce(_s, CAST(0 AS BIGINT))) div 100)"
            ).alias("rank_micro"),
        )
        prev = ranks
        ranks = new.localCheckpoint()
        free_local_checkpoint(prev)
    free_local_checkpoint(edges_deg)
    free_local_checkpoint(nodes)
    return ranks


def pagerank_oracle_sql(
    edges_sql: str,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """DuckDB replay of :func:`pagerank` — the iteration unrolled as a
    CTE chain r0..rN (recursive CTEs disallow aggregates in the
    recursive term; unrolling is exact and bounded by the fixed
    iteration count). Integer ``//`` matches Spark ``div`` on the
    all-positive ranks. ``SUM`` is HUGEINT in DuckDB → cast back."""
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}) "
        "WHERE src IS NOT NULL AND dst IS NOT NULL),\n"
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),\n"
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg "
        "FROM e GROUP BY src),\n"
        "nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),\n"
        f"r0 AS (SELECT node, {scale} // n AS rank_micro "
        "FROM nodes CROSS JOIN nv)"
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f",\ns{i} AS (SELECT e.dst, "
            "CAST(SUM(r.rank_micro // d.out_deg) AS BIGINT) AS s\n"
            f"  FROM r{i - 1} r JOIN e ON r.node = e.src "
            "JOIN deg d ON d.src = e.src GROUP BY e.dst),\n"
            f"r{i} AS (SELECT nodes.node,\n"
            f"  ((100 - {damping_pct}) * ({scale} // nv.n)) // 100\n"
            f"  + ({damping_pct} * coalesce(s{i}.s, 0)) // 100 AS rank_micro\n"
            f"  FROM nodes CROSS JOIN nv "
            f"LEFT JOIN s{i} ON nodes.node = s{i}.dst)"
        )
    parts.append(
        f"\nSELECT node, rank_micro FROM r{iterations}"
    )
    return "".join(parts)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    scale: int = 10**12,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM'99) in integer micro-units
    → ``(node, hub_micro, auth_micro)``, bit-exact across engines.

    Per iteration: ``auth(v) = Σ_{u→v} hub(u)`` then ``hub(u) =
    Σ_{u→v} auth(v)``, each renormalized to a total of ``scale`` via
    ``x·scale div Σx`` — integer floor division instead of the published
    L2 norm (sqrt is not correctly-rounded across runtimes; the rank
    ordering and relative mass are what link-spam / seed-selection
    consumers use). Sums ride DECIMAL(38,0) (Spark) / HUGEINT (DuckDB
    oracle, :func:`hits_oracle_sql`) so a hub pointed at by the whole
    graph cannot overflow; ``div`` on DECIMAL(38,0) and HUGEINT ``//``
    floor identically on the all-nonneg values (verified live).

    Scale shape: per iteration two shuffle joins (edges ⋈ scores) each
    feeding a partial-aggregated sum, plus a broadcast 1-row total for
    the renormalize; lineage cut per iteration exactly like
    :func:`pagerank`."""
    from xmlschemavalidator_spark.session import free_local_checkpoint

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        free_local_checkpoint(e)
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub_micro"),
            F.lit(0).cast("long").alias("auth_micro"),
        )

    def _propagate(scores: DataFrame, col: str, key: str, out_key: str):
        """sum scores[col] over edges keyed on `key`, grouped by
        `out_key`, renormalized to `scale` total → (node, value)."""
        raw = (
            e.join(scores, e[key] == scores.node)
            .groupBy(F.col(out_key).alias("_n"))
            .agg(F.sum(F.col(col).cast("decimal(38,0)")).alias("_raw"))
        )
        total = raw.agg(
            F.sum("_raw").cast("decimal(38,0)").alias("_total")
        )
        normed = (
            nodes.join(raw, nodes.node == F.col("_n"), "left")
            .crossJoin(F.broadcast(total))
            .select(
                nodes.node,
                F.expr(
                    f"CAST(coalesce(_raw, CAST(0 AS DECIMAL(38,0)))"
                    f" * CAST({scale} AS DECIMAL(38,0))"
                    f" div _total AS BIGINT)"
                ).alias(col),
            )
        )
        return normed

    hubs = nodes.withColumn(
        "hub", F.lit(scale // n).cast("long")
    ).localCheckpoint()
    # iterations=0 returns the uniform init for BOTH scores (pagerank's
    # graceful-no-iteration contract; a None auths would crash the final
    # join — review finding)
    auths = nodes.withColumn(
        "auth", F.lit(scale // n).cast("long")
    ).localCheckpoint()
    for _ in range(iterations):
        new_auths = _propagate(
            hubs.select("node", F.col("hub")), "hub", "src", "dst"
        ).withColumnRenamed("hub", "auth").localCheckpoint()
        free_local_checkpoint(auths)
        auths = new_auths
        new_hubs = _propagate(
            auths.select("node", "auth"), "auth", "dst", "src"
        ).withColumnRenamed("auth", "hub").localCheckpoint()
        free_local_checkpoint(hubs)
        hubs = new_hubs
    out = (
        hubs.join(auths, "node")
        .select(
            "node",
            F.col("hub").alias("hub_micro"),
            F.col("auth").alias("auth_micro"),
        )
        .localCheckpoint()
    )
    for fr in (hubs, auths, e, nodes):
        free_local_checkpoint(fr)
    return out


def hits_oracle_sql(
    edges_sql: str, iterations: int = 10, scale: int = 10**12
) -> str:
    """DuckDB replay of :func:`hits` — iterations unrolled as CTE pairs
    (a1/h1 .. aN/hN), sums and products in HUGEINT so ``//`` floors
    exactly like Spark's DECIMAL(38,0) ``div``. Every CTE is
    ``AS MATERIALIZED``: DuckDB inlines plain CTEs at each reference, so
    a chained multi-reference unroll re-expands the whole prefix
    EXPONENTIALLY per level (~2 refs/level → 2^(2·iterations); the
    5-iteration oracle hung >100 s un-materialized, reproduced live,
    while the single-chain pagerank oracle survives inlining)."""
    parts = [
        "WITH e AS MATERIALIZED "
        f"(SELECT DISTINCT src, dst FROM ({edges_sql}) "
        "WHERE src IS NOT NULL AND dst IS NOT NULL),\n"
        "nodes AS MATERIALIZED "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e),\n"
        "nv AS MATERIALIZED "
        "(SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),\n"
        f"h0 AS MATERIALIZED (SELECT node, CAST({scale} // n AS HUGEINT) "
        "AS hub FROM nodes CROSS JOIN nv),\n"
        "a0 AS MATERIALIZED (SELECT node, hub AS auth FROM h0)"
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f",\nar{i} AS MATERIALIZED (SELECT e.dst AS node, "
            f"CAST(SUM(h.hub) AS HUGEINT) AS raw\n"
            f"  FROM h{i - 1} h JOIN e ON h.node = e.src GROUP BY e.dst),\n"
            f"at{i} AS MATERIALIZED (SELECT CAST(SUM(raw) AS HUGEINT) "
            f"AS total FROM ar{i}),\n"
            f"a{i} AS MATERIALIZED (SELECT nodes.node,\n"
            f"  coalesce(ar{i}.raw, CAST(0 AS HUGEINT)) * {scale}"
            f" // at{i}.total AS auth\n"
            f"  FROM nodes CROSS JOIN at{i} "
            f"LEFT JOIN ar{i} ON nodes.node = ar{i}.node),\n"
            f"hr{i} AS MATERIALIZED (SELECT e.src AS node, "
            f"CAST(SUM(a.auth) AS HUGEINT) AS raw\n"
            f"  FROM a{i} a JOIN e ON a.node = e.dst GROUP BY e.src),\n"
            f"ht{i} AS MATERIALIZED (SELECT CAST(SUM(raw) AS HUGEINT) "
            f"AS total FROM hr{i}),\n"
            f"h{i} AS MATERIALIZED (SELECT nodes.node,\n"
            f"  coalesce(hr{i}.raw, CAST(0 AS HUGEINT)) * {scale}"
            f" // ht{i}.total AS hub\n"
            f"  FROM nodes CROSS JOIN ht{i} "
            f"LEFT JOIN hr{i} ON nodes.node = hr{i}.node)"
        )
    parts.append(
        f"\nSELECT h{iterations}.node, CAST(h{iterations}.hub AS BIGINT)"
        f" AS hub_micro, CAST(a{iterations}.auth AS BIGINT) AS auth_micro\n"
        f"FROM h{iterations} JOIN a{iterations}"
        f" ON h{iterations}.node = a{iterations}.node"
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# HyperBall harmonic centrality (Boldi & Vigna, "In-Core Computation of
# Geometric Centralities with HyperBall", 2013) — the ranking signal
# Common Crawl publishes for hosts. Exact all-pairs BFS is O(n·m);
# HyperBall propagates a constant-size HLL counter per node instead, so
# each of the T rounds is one edge join + one (node, register) max —
# partial-aggregatable, hub-skew-safe, O(T·m) total.
#
# Engine-portability: registers are INTEGERS (md5-derived bucket + rho),
# register union is MAX, and the ball-size sums are exact scaled-integer
# arithmetic (Σ 2^(59−M) in DECIMAL/HUGEINT) — so the DuckDB replay is
# bit-identical through the final fixed-order float chain. No HLL bias
# corrections on purpose: ln() is not correctly-rounded and differs
# across runtimes; the raw estimator is biased at small cardinalities
# but identically so in both engines, and centrality consumers use it
# as a RANK signal.
# ---------------------------------------------------------------------------

_HB_M = 64          # registers (p = 6); std err ~1.04/√64 ≈ 13%
_HB_ALPHA = 0.709   # alpha_64 (Flajolet et al., HLL)
_HB_C = _HB_ALPHA * _HB_M * _HB_M * float(2**59)  # estimate = C / S


def _hb_registers(node: Column) -> tuple[Column, Column]:
    """(register index, rho) for a node id: bucket from the first 16 md5
    bits, rho = leading zeros of the next 56 bits + 1 (integer-exact via
    the binary-string length — log2 would round)."""
    h = F.md5(F.concat(F.lit("hb:"), node.cast("string")))
    j = F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % _HB_M
    v = F.conv(F.substring(h, 5, 14), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(57)).otherwise(F.lit(57) - F.length(F.bin(v)))
    return j, rho


def _hb_sums(state: DataFrame) -> DataFrame:
    """Per-node S = Σ_regs 2^(59−M) as exact DECIMAL (absent registers
    carry M=0, i.e. 2^59 each) — the integer core of the HLL estimate."""
    # SQL shiftleft takes a column bit count; the Python F.shiftleft
    # wrapper only accepts a literal int
    term = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 59 - val) AS DECIMAL(38,0))")
    return state.groupBy("node").agg(
        (
            F.sum(term)
            + (F.lit(_HB_M) - F.count(F.lit(1))).cast("decimal(38,0)")
            * F.lit(2**59).cast("decimal(38,0)")
        ).alias("s")
    )


def hyperball_harmonic(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
) -> DataFrame:
    """Approximate harmonic centrality ``(node, harmonic)``:
    H(v) = Σ_t (|B(v,t)| − |B(v,t−1)|)/t over balls of nodes REACHING v
    within t hops (counters flow along edge direction, so dst accumulates
    its in-ball — the in-centrality Common Crawl ranks by).

    State is the exploded sparse register table (node, reg, val): union
    with in-neighbors' counters is a (node, reg) MAX — partial agg, so a
    hub with 10^8 in-edges combines map-side. Lineage cut per round; the
    per-round ball-size sums read the just-checkpointed state. The float
    estimate chain is a FIXED-ORDER expression (t=1..T), identical in the
    DuckDB replay (:func:`hyperball_oracle_sql`)."""
    from functools import reduce

    from xmlschemavalidator_spark.session import free_local_checkpoint

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    j, rho = _hb_registers(F.col("node"))
    state = nodes.select(
        "node", j.alias("reg"), rho.cast("int").alias("val")
    ).localCheckpoint()
    # each round's per-node ball sums must be EAGERLY materialized before
    # the state they read is freed — a lazy sums frame would chase freed
    # checkpoint blocks at collect time (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
    # hit live). They are N-row tables, tiny next to the register state.
    sums = [
        _hb_sums(state).withColumn("t", F.lit(0)).localCheckpoint()
    ]
    for t in range(1, iterations + 1):
        msgs = e.join(state, e.src == state.node).select(
            F.col("dst").alias("node"), F.col("reg"), F.col("val")
        )
        new_state = (
            state.unionByName(msgs)
            .groupBy("node", "reg")
            .agg(F.max("val").alias("val"))
            .localCheckpoint()
        )
        free_local_checkpoint(state)
        state = new_state
        sums.append(
            _hb_sums(state).withColumn("t", F.lit(t)).localCheckpoint()
        )
    all_sums = reduce(lambda a, b: a.unionByName(b), sums)
    piv = (
        all_sums.groupBy("node")
        .pivot("t", [str(i) for i in range(iterations + 1)])
        .agg(F.first("s"))
    )
    est = [
        F.lit(_HB_C) / F.col(str(t)).cast("double")
        for t in range(iterations + 1)
    ]
    h = (est[1] - est[0]) / F.lit(1.0)
    for t in range(2, iterations + 1):
        h = h + (est[t] - est[t - 1]) / F.lit(float(t))
    out = piv.select("node", F.round(h, 4).alias("harmonic"))
    free_local_checkpoint(state)
    free_local_checkpoint(e)
    # the returned frame reads the T+1 checkpointed sums tables; callers
    # that materialize the result and want the blocks back free these
    # (the result._dsir_scored pattern — freeing a derived frame is a
    # silent no-op, the checkpoint anchors must be freed directly)
    out._hb_sums_frames = sums
    return out


def hyperball_oracle_sql(edges_sql: str, iterations: int = 8) -> str:
    """DuckDB replay of :func:`hyperball_harmonic`: the same md5-derived
    registers, the same per-round max-union (unrolled CTEs — aggregates
    are barred from recursive terms), the same exact HUGEINT ball sums,
    and the same fixed-order float chain."""
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}) "
        "WHERE src IS NOT NULL AND dst IS NOT NULL),\n"
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),\n"
        "init AS (SELECT node,\n"
        "  CAST('0x' || substr(md5('hb:' || CAST(node AS VARCHAR)), 1, 4)"
        f" AS BIGINT) % {_HB_M} AS reg,\n"
        "  CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END AS val\n"
        "  FROM (SELECT node,\n"
        "    CAST('0x' || substr(md5('hb:' || CAST(node AS VARCHAR)), 5, 14)"
        " AS BIGINT) AS v FROM nodes)),\n"
        "st0 AS (SELECT node, reg, val FROM init),\n"
        "s0 AS (SELECT node,\n"
        "  SUM(CAST(1::BIGINT << (59 - val) AS HUGEINT))\n"
        f"  + ({_HB_M} - COUNT(*)) * CAST(1::BIGINT << 59 AS HUGEINT) AS s\n"
        "  FROM st0 GROUP BY node)"
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f",\nst{t} AS (SELECT node, reg, MAX(val) AS val FROM (\n"
            f"  SELECT node, reg, val FROM st{t - 1}\n"
            f"  UNION ALL SELECT e.dst AS node, s.reg, s.val\n"
            f"  FROM e JOIN st{t - 1} s ON s.node = e.src)\n"
            f"  GROUP BY node, reg),\n"
            f"s{t} AS (SELECT node,\n"
            "  SUM(CAST(1::BIGINT << (59 - val) AS HUGEINT))\n"
            f"  + ({_HB_M} - COUNT(*)) * CAST(1::BIGINT << 59 AS HUGEINT) AS s\n"
            f"  FROM st{t} GROUP BY node)"
        )
    terms = []
    for t in range(1, iterations + 1):
        terms.append(
            f"(({_HB_C!r} / CAST(s{t}.s AS DOUBLE)"
            f" - {_HB_C!r} / CAST(s{t - 1}.s AS DOUBLE)) / {float(t)!r})"
        )
    chain = terms[0]
    for term in terms[1:]:
        chain = f"({chain} + {term})"
    joins = "".join(
        f" JOIN s{t} ON s{t}.node = s0.node" for t in range(1, iterations + 1)
    )
    parts.append(
        f"\nSELECT s0.node, round({chain}, 4) AS harmonic FROM s0{joins}"
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# robots.txt — the crawl-politeness layer: corpus pipelines that respect
# robots (C4, CCNet) drop documents whose URL the host's robots.txt
# disallows for the wildcard agent. Parsing is the documented subset:
# the `User-agent: *` group's `Disallow:` lines as literal path
# prefixes (no *, $ wildcards — conservative prefix semantics; an empty
# Disallow means allow-all and is ignored). Both regexes run identically
# under Java and RE2 ((?is) lazy segment capture + (?im) line anchors).
# ---------------------------------------------------------------------------

# line-start-anchored (review findings, both reproduced live in both
# engines): an unanchored 'user-agent:' let a COMMENT mentioning
# 'user-agent: *' hijack the group, and a stacked second User-agent line
# truncated the wildcard group to zero rules. The greedy
# consecutive-user-agent prefix keeps stacked groups ('User-agent: *' +
# 'User-agent: X' sharing one rule block, per the REP spec); the lazy
# tail stops at the next line-anchored user-agent (a NEW group). RE2 has
# no lookahead, so the terminator is an alternation, not a (?!...).
# Subset note: only the FIRST wildcard group is read (multi-group merge
# is out of scope, disclosed).
ROBOTS_GROUP_RE = (
    r"(?is)(?:^|\n)[ \t]*user-agent:[ \t]*\*[ \t]*\r?"
    r"((?:\n[ \t]*user-agent:[^\n]*)*(?:\n[^\n]*)*?)"
    r"(?:\n[ \t]*user-agent:|$)"
)
ROBOTS_DISALLOW_RE = r"(?im)^[ \t]*disallow:[ \t]*([^ \t\r\n#]*)"


def robots_url_path(url: Column) -> Column:
    """Path+query a robots rule is matched against: RAW (post-authority,
    pre-fragment, empty → '/'), NOT the dedup-canonical form — canonical
    trailing-slash stripping let 'Disallow: /x/' miss the directory
    index '/x/' itself, and tracking-param stripping emptied
    query-bearing rules (review finding, reproduced)."""
    t = F.trim(url)
    rest = F.regexp_extract(t, _REST_RE, 1)
    pq = F.regexp_extract(rest, r"^[^/?#]*([^#]*)", 1)
    return F.when(pq == "", F.lit("/")).otherwise(pq)


def robots_url_path_sql(x: str) -> str:
    rest = f"regexp_extract(trim({x}), {sql_lit(_REST_RE)}, 1)"
    pq = f"regexp_extract({rest}, '^[^/?#]*([^#]*)', 1)"
    return f"CASE WHEN {pq} = '' THEN '/' ELSE {pq} END"


def robots_disallow_prefixes(robots: Column) -> Column:
    """Disallowed path prefixes for the wildcard agent (non-empty only)."""
    seg = F.regexp_extract(robots, ROBOTS_GROUP_RE, 1)
    allp = F.regexp_extract_all(seg, F.lit(ROBOTS_DISALLOW_RE), F.lit(1))
    return F.filter(allp, lambda p: p != F.lit(""))


def robots_disallow_prefixes_sql(x: str) -> str:
    grp = sql_lit(ROBOTS_GROUP_RE)
    dis = sql_lit(ROBOTS_DISALLOW_RE)
    return (
        f"list_filter(regexp_extract_all(regexp_extract({x}, {grp}, 1), "
        f"{dis}, 1), p -> p <> '')"
    )


def robots_filter(
    docs: DataFrame,
    url_col: str,
    robots: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
    strip_www: bool = True,
) -> DataFrame:
    """Drop documents whose RAW URL path+query (:func:`robots_url_path`)
    starts with any prefix the host's robots.txt disallows for
    ``User-agent: *``. Hosts are matched on the canonical form;
    documents from hosts with no robots row are KEPT (absent robots
    means no restrictions — the crawl default).

    Shape: the robots side is one row per host after a defensive
    group-merge (two raw rows normalizing to one host — e.g. 'a.com' +
    'www.a.com' — would otherwise fan-out-duplicate every kept doc of
    that host through the left join; review finding). The join shuffles
    on host — a hot host is an AQE-splittable equi-join, and the prefix
    test is a bounded ``exists`` over the host's few rules, never a
    cross join against a global rule table. The canonical-URL HOF
    evaluates once (host is derived from a single-reference alias)."""
    rh = F.lower(F.col(host_col))
    if strip_www:
        rh = F.regexp_replace(rh, r"^www\.", "")
    rules = (
        robots.select(
            rh.alias("_rh"),
            robots_disallow_prefixes(F.col(robots_col)).alias("_p"),
        )
        .groupBy("_rh")
        .agg(F.array_distinct(F.flatten(F.collect_list("_p"))).alias("_prefixes"))
    )
    joined = (
        docs.withColumn(
            "_canon", canonical_url(F.col(url_col), strip_www=strip_www)
        )
        .withColumn("_h", canonical_host(F.col("_canon")))
        .withColumn("_pq", robots_url_path(F.col(url_col)))
        .drop("_canon")
        .join(rules, F.col("_h") == F.col("_rh"), "left")
    )
    blocked = F.exists("_prefixes", lambda p: F.col("_pq").startswith(p))
    return joined.where(~F.coalesce(blocked, F.lit(False))).drop(
        "_h", "_pq", "_rh", "_prefixes"
    )


# ---------------------------------------------------------------------------
# triangle counting — the local-clustering signal (link-farm / spam-ring
# detection: organic link neighborhoods close triangles, spam rings are
# near-bipartite). Compact-forward orientation (Latapy, TCS 2008): orient
# every undirected edge from the lower-(degree, id) endpoint to the
# higher, then join wedges only at the LOW end — any graph's oriented
# out-degree is O(√m), so the wedge join is O(m^1.5) worst case instead
# of the naive Σ d(v)² which a hub makes quadratic.
# ---------------------------------------------------------------------------

def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts ``(node, n_triangles)`` over the
    undirected simple graph of ``edges`` (direction/multiplicity/self-
    loops ignored; only nodes in ≥1 triangle appear — outer-join against
    your node table for zeros).

    All integer arithmetic and a deterministic total order ((degree,
    node) tuples), so the DuckDB replay hashes identically. Shuffles:
    one distinct, one degree agg, two broadcast-free joins on the wedge
    apex, one semi-ish closing join on (v, w), one final partial-agg
    count — every join key is an edge endpoint, never a cross join."""
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    )
    und = e0.select(
        F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
    ).distinct()
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("dg").alias("dga"))
    db = deg.select(F.col("node").alias("b"), F.col("dg").alias("dgb"))
    ed = und.join(da, "a").join(db, "b")
    lower_first = (F.col("dga") < F.col("dgb")) | (
        (F.col("dga") == F.col("dgb")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("dgb")).otherwise(F.col("dga")).alias("dgv"),
    )
    o1 = o.select(F.col("u"), F.col("v").alias("x"), F.col("dgv").alias("dgx"))
    o2 = o.select(F.col("u"), F.col("v").alias("y"), F.col("dgv").alias("dgy"))
    wedges = o1.join(o2, "u").where(
        (F.col("dgx") < F.col("dgy"))
        | ((F.col("dgx") == F.col("dgy")) & (F.col("x") < F.col("y")))
    )
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    members = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def triangle_count_oracle_sql(edges_sql: str) -> str:
    """DuckDB replay of :func:`triangle_count` — same orientation, same
    (degree, node) total order."""
    return f"""
WITH e0 AS (SELECT src AS s, dst AS d FROM ({edges_sql})
            WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
und AS (SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b FROM e0),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node),
o AS (SELECT CASE WHEN (da.dg, und.a) < (db.dg, und.b) THEN und.a ELSE und.b END AS u,
             CASE WHEN (da.dg, und.a) < (db.dg, und.b) THEN und.b ELSE und.a END AS v,
             CASE WHEN (da.dg, und.a) < (db.dg, und.b) THEN db.dg ELSE da.dg END AS dgv
      FROM und JOIN deg da ON da.node = und.a JOIN deg db ON db.node = und.b),
tris AS (SELECT o1.u, o1.v AS x, o2.v AS y
         FROM o o1 JOIN o o2 ON o1.u = o2.u
           AND ((o1.dgv, o1.v) < (o2.dgv, o2.v))
         JOIN o o3 ON o3.u = o1.v AND o3.v = o2.v)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
  SELECT u AS node FROM tris
  UNION ALL SELECT x FROM tris
  UNION ALL SELECT y FROM tris)
GROUP BY node"""


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz Nature
    1998) over the undirected simple graph: ``(node, degree,
    n_triangles, lcc_micro)`` with ``lcc_micro = 2·tri·10⁶ div
    (deg·(deg−1))`` — the fraction of a node's neighbor pairs that are
    themselves linked, in integer millionths (BIGINT floor division,
    exact cross-engine; no doubles anywhere). Communities/cliques score
    near 10⁶; pure hubs-and-spokes (link farms radiating to leaf pages)
    score 0 — the per-node companion to :func:`degree_assortativity`'s
    one-number drift signal.

    Every node of the simple graph appears: degree-1 nodes carry NULL
    lcc_micro (undefined — a 1-neighbor node has no neighbor pair),
    triangle-free nodes carry 0. Scale shape: :func:`triangle_count`'s
    compact-forward orientation (never enumerate a hub's neighbor
    pairs) + one degree agg + one left join on node."""
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    )
    und = e0.select(
        F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
    ).distinct()
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_count(edges, src, dst)
    return deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                "2 * coalesce(n_triangles, CAST(0 AS BIGINT)) * 1000000"
                " div (degree * (degree - 1))"
            ),
        ).alias("lcc_micro"),
    )


def local_clustering_oracle_sql(edges_sql: str) -> str:
    """DuckDB replay of :func:`local_clustering` — triangle replay via
    :func:`triangle_count_oracle_sql` + the same integer-div ratio."""
    return f"""
WITH tri AS ({triangle_count_oracle_sql(edges_sql)}),
e0 AS (SELECT src AS s, dst AS d FROM ({edges_sql})
       WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
und AS (SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b FROM e0),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node)
SELECT deg.node, deg.degree,
       COALESCE(tri.n_triangles, 0) AS n_triangles,
       CASE WHEN deg.degree >= 2
            THEN (2 * COALESCE(tri.n_triangles, 0) * 1000000)
                 // (deg.degree * (deg.degree - 1)) END AS lcc_micro
FROM deg LEFT JOIN tri ON tri.node = deg.node"""


def bfs_distances(
    edges: DataFrame,
    sources: list[int],
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
) -> DataFrame:
    """Multi-source BFS hop distances over the directed link graph:
    ``(node, dist)`` for every node reachable from `sources` within
    `max_hops` — crawl-frontier depth, seed-distance features, and the
    exact counterpart of the HyperBall ball sizes.

    Pregel-shaped like :func:`pagerank`: each round joins the CURRENT
    frontier (only the nodes first reached last round — shrinking, not
    the whole distance table) against the edge set, anti-joins already
    -reached nodes, and tags survivors with ``dist = round``. BFS
    explores in hop order, so first-reach IS min-distance: no min-agg
    over paths, no re-relaxation. Lineage is cut per round
    (localCheckpoint + freeing, the CC/PageRank discipline) and the loop
    exits on an empty frontier, so the work is O(Σ frontier ⋈ edges)
    with at most diameter rounds. All-integer — the recursive-CTE
    DuckDB replay hashes identically.
    """
    from xmlschemavalidator_spark.session import free_local_checkpoint

    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    frontier = spark.createDataFrame(
        [(int(s),) for s in sources], "node bigint"
    ).distinct().localCheckpoint()
    dist = frontier.withColumn("dist", F.lit(0).cast("long")).localCheckpoint()
    for hop in range(1, max_hops + 1):
        reached = (
            e.join(frontier, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
        )
        new_frontier = reached.localCheckpoint()
        free_local_checkpoint(frontier)
        frontier = new_frontier
        if frontier.isEmpty():
            break
        prev = dist
        dist = dist.unionByName(
            frontier.withColumn("dist", F.lit(hop).cast("long"))
        ).localCheckpoint()
        free_local_checkpoint(prev)
    free_local_checkpoint(e)
    return dist


def bfs_oracle_sql(
    edges_sql: str, sources: list[int], max_hops: int = 10
) -> str:
    """DuckDB replay of :func:`bfs_distances`: bounded recursive CTE over
    the same distinct edge set; min(d) per node == first-reach depth."""
    src_values = ", ".join(f"({int(s)})" for s in sources)
    return f"""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({edges_sql})
                  WHERE src IS NOT NULL AND dst IS NOT NULL),
        walk(node, d) AS (
            SELECT DISTINCT node, 0 FROM (VALUES {src_values}) s(node)
            UNION
            SELECT e.dst, w.d + 1 FROM e JOIN walk w ON e.src = w.node
            WHERE w.d < {max_hops}
        )
        SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS BIGINT) AS dist
        FROM walk GROUP BY node"""


def common_neighbor_candidates(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    max_center_degree: int = 10_000,
) -> DataFrame:
    """Link prediction by common-neighbor counting over the UNDIRECTED
    link graph (Liben-Nowell & Kleinberg CIKM'03): non-adjacent pairs
    ``(node_a, node_b)`` ranked by shared-neighbor count and Jaccard
    overlap of their neighborhoods — ``(node_a, node_b, n_common,
    jaccard_micro)`` with node_a < node_b, n_common >= min_common.

    Wedge generation is centered: every node w emits the pairs of its
    neighbors, so the cost is Σ_w deg(w)² — quadratic in HUB degree, the
    same blow-up every pair-generation path in this engine refuses
    rather than absorbs. Centers with degree > `max_center_degree` are
    EXCLUDED (their wedges are boilerplate-grade evidence anyway: a
    directory page linking half the web "predicts" everything), and
    :func:`wedge_hot_centers` is the audit surface for what was dropped
    — the no-silent-caps contract. Scores are integer:
    ``jaccard_micro = n_common·10⁶ div (deg_a + deg_b − n_common)``.

    Plan: adjacency (both directions, distinct) → degree filter →
    ONE self-join on the center → pair count partial agg → anti-join the
    existing edge set → two broadcast-or-shuffle degree joins. No float,
    no global sort; the oracle replays it verbatim.
    """
    adj = _undirected_adj(edges, src, dst)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    centers = adj.join(
        deg.where(F.col("deg") <= max_center_degree).select("node"), "node"
    )
    left = centers.select(F.col("node").alias("_w"), F.col("nbr").alias("node_a"))
    right = centers.select(F.col("node").alias("_w"), F.col("nbr").alias("node_b"))
    wedges = (
        left.join(right, "_w")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    existing = adj.select(
        F.col("node").alias("node_a"), F.col("nbr").alias("node_b")
    ).where(F.col("node_a") < F.col("node_b"))
    cand = wedges.join(existing, ["node_a", "node_b"], "left_anti")
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("_db"))
    return (
        cand.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            F.expr("n_common * 1000000 div (_da + _db - n_common)").alias(
                "jaccard_micro"
            ),
        )
    )


def wedge_hot_centers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int = 10_000,
) -> DataFrame:
    """Audit surface for :func:`common_neighbor_candidates`: the centers
    whose degree exceeded the cap and were excluded from wedge
    generation, with their degrees — ``(node, deg)``. Empty means the
    candidate set is complete."""
    adj = _undirected_adj(edges, src, dst)
    return (
        adj.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .where(F.col("deg") > max_center_degree)
    )


def _undirected_adj(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected adjacency ``(node, nbr)`` — both directions of
    the edge set, self-loops and NULLs dropped."""
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                    F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                )
            ).alias("e")
        )
        .select(F.col("e.u").alias("node"), F.col("e.v").alias("nbr"))
        .distinct()
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. PRE'07) over the undirected link graph: every node starts
    labeled with its own id; each round it adopts the MOST FREQUENT
    label among its neighbors, ties broken by smallest label — the
    deterministic variant (classic LPA breaks ties randomly, which no
    oracle can replay). Returns ``(node, label)`` after a FIXED number
    of rounds: communities denser than their surroundings converge in
    a few rounds; fixed iterations keep the unrolled DuckDB replay
    exact (LPA has no monotone fixpoint to observe, unlike min-label
    CC).

    Complements the CC/star machinery: CC finds connectivity,
    LPA finds density structure WITHIN a connected component (link
    farms and topic clusters inside the giant component).

    Per round: one shuffle join (adjacency ⋈ labels on nbr) + one
    two-level aggregate (label counts partial-agg map-side, then
    arg-min of (−count, label) per node) — hub-degree safe, no
    collect. Lineage cut per round (localCheckpoint + freeing, the
    PageRank discipline). Nodes only enter via edges, so every node
    has ≥1 neighbor and a winner always exists.
    """
    from xmlschemavalidator_spark.session import free_local_checkpoint

    adj = _undirected_adj(edges, src, dst).localCheckpoint()
    labels = (
        adj.select(F.col("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(iterations):
        nbr_labels = adj.join(
            labels.select(F.col("node").alias("nbr"), "label"), "nbr"
        ).select("node", "label")
        counts = nbr_labels.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        winners = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label").alias("l")
                    )
                ).alias("_w")
            )
            .select("node", F.col("_w.l").alias("label"))
        )
        prev = labels
        labels = winners.localCheckpoint()
        free_local_checkpoint(prev)
    free_local_checkpoint(adj)
    return labels


def label_propagation_oracle_sql(
    edges_sql: str, iterations: int = 5
) -> str:
    """DuckDB replay of :func:`label_propagation`, unrolled (aggregates
    are disallowed in recursive terms; MATERIALIZED CTEs because DuckDB
    inlines chained unrolls exponentially — the HITS lesson)."""
    parts = [
        f"WITH e0 AS MATERIALIZED ({edges_sql}),\n"
        "adj AS MATERIALIZED (SELECT DISTINCT u AS node, v AS nbr FROM (\n"
        "  SELECT src AS u, dst AS v FROM e0\n"
        "    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst\n"
        "  UNION ALL\n"
        "  SELECT dst, src FROM e0\n"
        "    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)),\n"
        "l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM adj)"
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f",\nc{i} AS MATERIALIZED (SELECT a.node, l.label, COUNT(*) AS cnt\n"
            f"  FROM adj a JOIN l{i - 1} l ON a.nbr = l.node\n"
            "  GROUP BY a.node, l.label),\n"
            f"l{i} AS MATERIALIZED (SELECT node, label FROM (\n"
            "  SELECT node, label, row_number() OVER (\n"
            "    PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn\n"
            f"  FROM c{i}) WHERE rn = 1)"
        )
    parts.append(f"\nSELECT node, CAST(label AS BIGINT) AS label FROM l{iterations}")
    return "".join(parts)


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Personalized PageRank (topic-sensitive: Haveliwala WWW'02):
    identical integer-micro machinery to :func:`pagerank`, except the
    teleport mass returns to the SEED set instead of everywhere — rank
    then measures proximity to the seeds (related-page retrieval,
    trust propagation from a whitelist). ``(node, rank_micro)``;
    bit-exact vs :func:`ppr_oracle_sql`.

    Same per-iteration shape as pagerank (one shuffle join + one
    partial-agg sum + left join back, lineage cut per round); the seed
    base term is a literal IN predicate — seed sets are small by
    definition (they're hand-picked), so no extra join.
    """
    from xmlschemavalidator_spark.session import free_local_checkpoint

    if not seeds:
        raise ValueError("personalized_pagerank: seeds must be non-empty")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    seed_vals = sorted({int(s) for s in seeds})
    init = scale // len(seed_vals)
    base = ((100 - damping_pct) * init) // 100
    is_seed = F.col("node").isin(seed_vals)
    edges_deg = (
        e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")), "src")
        .localCheckpoint()
    )
    ranks = nodes.withColumn(
        "rank_micro",
        F.when(is_seed, F.lit(init)).otherwise(F.lit(0)).cast("long"),
    ).localCheckpoint()
    for _ in range(iterations):
        sums = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .select(F.col("dst"), F.expr("rank_micro div out_deg").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_s"))
        )
        new = nodes.join(sums, nodes.node == sums.dst, "left").select(
            nodes.node,
            (
                F.when(is_seed, F.lit(base)).otherwise(F.lit(0)).cast("long")
                + F.expr(
                    f"({damping_pct} * coalesce(_s, CAST(0 AS BIGINT))) div 100"
                )
            ).alias("rank_micro"),
        )
        prev = ranks
        ranks = new.localCheckpoint()
        free_local_checkpoint(prev)
    free_local_checkpoint(edges_deg)
    free_local_checkpoint(nodes)
    return ranks


def ppr_oracle_sql(
    edges_sql: str,
    seeds: list[int],
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """DuckDB replay of :func:`personalized_pagerank` — the pagerank
    unroll with the teleport term restricted to the seed set."""
    seed_vals = sorted({int(s) for s in seeds})
    init = scale // len(seed_vals)
    base = ((100 - damping_pct) * init) // 100
    in_list = ", ".join(str(s) for s in seed_vals)
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}) "
        "WHERE src IS NOT NULL AND dst IS NOT NULL),\n"
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),\n"
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg "
        "FROM e GROUP BY src),\n"
        f"r0 AS (SELECT node, CASE WHEN node IN ({in_list}) "
        f"THEN {init} ELSE 0 END AS rank_micro FROM nodes)"
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f",\ns{i} AS (SELECT e.dst, "
            "CAST(SUM(r.rank_micro // d.out_deg) AS BIGINT) AS s\n"
            f"  FROM r{i - 1} r JOIN e ON r.node = e.src "
            "JOIN deg d ON d.src = e.src GROUP BY e.dst),\n"
            f"r{i} AS (SELECT nodes.node,\n"
            f"  CASE WHEN nodes.node IN ({in_list}) THEN {base} ELSE 0 END\n"
            f"  + ({damping_pct} * coalesce(s{i}.s, 0)) // 100 AS rank_micro\n"
            f"  FROM nodes LEFT JOIN s{i} ON nodes.node = s{i}.dst)"
        )
    parts.append(f"\nSELECT node, CAST(rank_micro AS BIGINT) AS rank_micro FROM r{iterations}")
    return "".join(parts)


def url_shape_signals(url: Column) -> dict[str, Column]:
    """URL shape features for spam / link-farm priors (the URL-only
    counterpart of ``outlink_signals``): named Columns to compose into
    one projection — ``url_len``, ``path_depth`` (count of '/' in the
    path), ``n_query_params``, ``has_ip_host`` (numeric-IP hosts are a
    classic spam marker), ``host_digit_ratio_micro`` (digit-heavy
    autogenerated hostnames), ``is_https``. All regex + integer
    arithmetic on the RAW url — engine-portable like the canonical-URL
    pipeline (``url_shape_signals_sql`` renders the identical SQL), so
    every feature is oracle-exact. Narrow, zero shuffles.
    """
    u = F.coalesce(url, F.lit(""))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    # anchored to the pre-fragment part: a '?' inside the fragment is
    # not a query string
    query = F.regexp_extract(u, r"^[^#]*?\?([^#]*)", 1)
    host_len = F.length(host)
    host_digits = F.length(F.regexp_replace(host, r"[^0-9]", ""))
    return {
        "url_len": F.length(u).cast("long"),
        "path_depth": (
            F.length(path) - F.length(F.regexp_replace(path, r"/", ""))
        ).cast("long"),
        "n_query_params": F.when(
            F.length(query) == 0, F.lit(0)
        ).otherwise(
            F.length(query) - F.length(F.regexp_replace(query, r"&", "")) + 1
        ).cast("long"),
        "has_ip_host": host.rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}(:[0-9]+)?$"),
        # floor(double-div) == exact // here: the quotient's distance from
        # an integer is >= 1/host_len when inexact, far beyond double error
        "host_digit_ratio_micro": F.when(
            host_len > 0, F.floor(host_digits * 1000000 / host_len).cast("long")
        ).otherwise(F.lit(0).cast("long")),
        "is_https": u.startswith("https://"),
    }


def url_shape_signals_sql(x: str) -> dict[str, str]:
    """DuckDB renderings of :func:`url_shape_signals` (oracle side) —
    the same regexes; DuckDB ``//`` mirrors the integer ratio."""
    u = f"coalesce({x}, '')"
    host = f"lower(regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))"
    path = f"regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1)"
    query = f"regexp_extract({u}, '^[^#]*?\\?([^#]*)', 1)"
    return {
        "url_len": f"CAST(length({u}) AS BIGINT)",
        "path_depth": (
            f"CAST(length({path}) - length(regexp_replace({path}, '/', '', 'g')) AS BIGINT)"
        ),
        "n_query_params": (
            f"CAST(CASE WHEN length({query}) = 0 THEN 0 ELSE "
            f"length({query}) - length(regexp_replace({query}, '&', '', 'g')) + 1 END AS BIGINT)"
        ),
        "has_ip_host": (
            f"regexp_matches({host}, '^[0-9]{{1,3}}(\\.[0-9]{{1,3}}){{3}}(:[0-9]+)?$')"
        ),
        "host_digit_ratio_micro": (
            f"CAST(CASE WHEN length({host}) > 0 THEN "
            f"(length(regexp_replace({host}, '[^0-9]', '', 'g')) * 1000000) // length({host}) "
            f"ELSE 0 END AS BIGINT)"
        ),
        "is_https": f"({u} LIKE 'https://%')",
    }


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """k-core of the undirected link graph (Seidman 1983; Batagelj &
    Zaveršnik's peeling): the maximal subgraph where EVERY node keeps
    degree >= k after all lower-degree nodes are removed — the standard
    "dense web neighborhood" extractor (a link farm survives high-k
    cores; a page with many drive-by inlinks does not, because its
    neighbors peel away under it). Returns ``(node, core_degree)`` —
    the node's degree WITHIN the k-core.

    Peeling loop: recompute degrees over the surviving subgraph, drop
    nodes below k, restrict edges to surviving endpoints, repeat until
    no node drops (each round an O(1)-row count action decides
    convergence — monotone, so early exit is exact, and extra rounds
    are no-ops, which is what lets a fixed-unroll SQL replay match).
    Per round: one partial-aggregatable degree count + two semi joins;
    lineage cut per round (the PageRank discipline). Raises if
    ``max_rounds`` is hit before the fixpoint — a silent partial peel
    would LOOK like a denser core than exists.
    """
    from xmlschemavalidator_spark.session import free_local_checkpoint

    if k < 1:
        raise ValueError(f"kcore: k must be >= 1, got {k}")
    adj = _undirected_adj(edges, src, dst).localCheckpoint()
    # adj is (node, nbr), symmetric and distinct
    n_prev = adj.select("node").distinct().count()
    for _ in range(max_rounds):
        deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("core_degree"))
        keep = deg.where(F.col("core_degree") >= k)
        n_now = keep.count()
        if n_now == n_prev:
            # materialize BEFORE freeing the adjacency blocks keep reads
            out = keep.localCheckpoint()
            free_local_checkpoint(adj)
            return out
        surv = keep.select("node")
        nxt = (
            adj.join(surv, "node", "left_semi")
            .join(surv.select(F.col("node").alias("nbr")), "nbr", "left_semi")
            .localCheckpoint()
        )
        free_local_checkpoint(adj)
        adj = nxt
        n_prev = n_now
    free_local_checkpoint(adj)
    raise RuntimeError(
        f"kcore: no fixpoint within max_rounds={max_rounds}; raise the bound"
    )


def kcore_oracle_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB replay of :func:`kcore`, peeling unrolled ``rounds`` times
    (MATERIALIZED — the chained-unroll inlining lesson). ``rounds`` must
    be >= the measured convergence round count; extra rounds are no-ops
    at the fixpoint, so any sufficiently large unroll hashes identically
    to the early-exiting Spark loop."""
    parts = [
        f"WITH e0 AS MATERIALIZED ({edges_sql}),\n"
        "a0 AS MATERIALIZED (SELECT DISTINCT u AS node, v AS nbr FROM (\n"
        "  SELECT src AS u, dst AS v FROM e0\n"
        "    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst\n"
        "  UNION ALL\n"
        "  SELECT dst, src FROM e0\n"
        "    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst))"
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f",\nn{i} AS MATERIALIZED (SELECT node FROM a{i - 1}\n"
            f"  GROUP BY node HAVING count(*) >= {int(k)}),\n"
            f"a{i} AS MATERIALIZED (SELECT a.node, a.nbr FROM a{i - 1} a\n"
            f"  JOIN n{i} s ON s.node = a.node\n"
            f"  JOIN n{i} t ON t.node = a.nbr)"
        )
    parts.append(
        f"\nSELECT node, CAST(count(*) AS BIGINT) AS core_degree\n"
        f"FROM a{rounds} GROUP BY node HAVING count(*) >= {int(k)}"
    )
    return "".join(parts)


def _edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support over a normalized undirected edge set
    ``(a, b)`` with a < b: ``(a, b, support)`` for edges in >= 1
    triangle. Same compact-forward orientation as
    :func:`triangle_count` (wedges join only at the low-(degree, id)
    end — hub neighbor pairs are never enumerated)."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("dg").alias("dga"))
    db = deg.select(F.col("node").alias("b"), F.col("dg").alias("dgb"))
    ed = und.join(da, "a").join(db, "b")
    lower_first = (F.col("dga") < F.col("dgb")) | (
        (F.col("dga") == F.col("dgb")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("dgb")).otherwise(F.col("dga")).alias("dgv"),
    )
    o1 = o.select(F.col("u"), F.col("v").alias("x"), F.col("dgv").alias("dgx"))
    o2 = o.select(F.col("u"), F.col("v").alias("y"), F.col("dgv").alias("dgy"))
    wedges = o1.join(o2, "u").where(
        (F.col("dgx") < F.col("dgy"))
        | ((F.col("dgx") == F.col("dgy")) & (F.col("x") < F.col("y")))
    )
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    tri_edges = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "x").alias("a"), F.greatest("u", "x").alias("b")
                ),
                F.struct(
                    F.least("u", "y").alias("a"), F.greatest("u", "y").alias("b")
                ),
                F.struct(
                    F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
                ),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    return tri_edges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """k-truss of the undirected simple graph (Cohen 2008, "Trusses:
    cohesive subgraphs for social network analysis"): the maximal
    subgraph in which EVERY edge participates in at least k−2 triangles
    of the subgraph itself. Stricter than the k-core (every k-truss is
    inside the (k−1)-core): a star hub survives high-k cores on raw
    degree alone, but its spoke edges close no triangles and peel out
    of every truss — the community-edge extractor for link graphs.
    Returns the surviving edges ``(a, b, support)`` with a < b and
    their in-truss support.

    Peeling loop (the k-core discipline, applied to edges): recompute
    per-edge support via the compact-forward triangle enumeration, drop
    edges with support < k−2, repeat until no edge drops (monotone →
    early exit exact, extra rounds no-ops — what lets a fixed-unroll
    SQL replay hash identically). Per round: one degree agg + the
    O(m^1.5)-bounded wedge join + one support groupBy; lineage cut per
    round. Raises at ``max_rounds`` — a silent partial peel would look
    denser than reality.
    """
    from xmlschemavalidator_spark.session import free_local_checkpoint

    if k < 3:
        raise ValueError(f"ktruss: k must be >= 3 (k=2 is just the edge set), got {k}")
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    )
    und = (
        e0.select(F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    n_prev = und.count()
    for _ in range(max_rounds):
        sup = _edge_support(und)
        keep = (
            und.join(sup, ["a", "b"], "left")
            .select(
                "a",
                "b",
                F.coalesce("support", F.lit(0).cast("long")).alias("support"),
            )
            .where(F.col("support") >= k - 2)
        )
        n_now = keep.count()
        if n_now == n_prev:
            out = keep.localCheckpoint()
            free_local_checkpoint(und)
            return out
        nxt = keep.select("a", "b").localCheckpoint()
        free_local_checkpoint(und)
        und = nxt
        n_prev = n_now
    free_local_checkpoint(und)
    raise RuntimeError(
        f"ktruss: no fixpoint within max_rounds={max_rounds}; raise the bound"
    )


def ktruss_oracle_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB replay of :func:`ktruss`, peeling unrolled ``rounds``
    times (MATERIALIZED CTEs). ``rounds`` must be >= the measured
    convergence count; extra rounds are no-ops at the fixpoint."""
    sup = int(k) - 2

    def tri_cte(i: int) -> str:
        # triangle support over edge set e{i-1} -> s{i}
        return f"""deg{i} AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM (
    SELECT a AS node FROM e{i - 1} UNION ALL SELECT b FROM e{i - 1})
  GROUP BY node),
o{i} AS MATERIALIZED (
  SELECT CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN e.b ELSE e.a END AS v,
         CASE WHEN (da.dg, e.a) < (db.dg, e.b) THEN db.dg ELSE da.dg END AS dgv
  FROM e{i - 1} e JOIN deg{i} da ON da.node = e.a JOIN deg{i} db ON db.node = e.b),
s{i} AS MATERIALIZED (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
    SELECT LEAST(o1.u, o1.v) AS a, GREATEST(o1.u, o1.v) AS b
    FROM o{i} o1 JOIN o{i} o2 ON o1.u = o2.u AND (o1.dgv, o1.v) < (o2.dgv, o2.v)
      JOIN o{i} o3 ON o3.u = o1.v AND o3.v = o2.v
    UNION ALL
    SELECT LEAST(o1.u, o2.v), GREATEST(o1.u, o2.v)
    FROM o{i} o1 JOIN o{i} o2 ON o1.u = o2.u AND (o1.dgv, o1.v) < (o2.dgv, o2.v)
      JOIN o{i} o3 ON o3.u = o1.v AND o3.v = o2.v
    UNION ALL
    SELECT LEAST(o1.v, o2.v), GREATEST(o1.v, o2.v)
    FROM o{i} o1 JOIN o{i} o2 ON o1.u = o2.u AND (o1.dgv, o1.v) < (o2.dgv, o2.v)
      JOIN o{i} o3 ON o3.u = o1.v AND o3.v = o2.v)
  GROUP BY a, b)"""

    parts = [
        f"WITH eraw AS MATERIALIZED ({edges_sql}),\n"
        "e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,"
        " GREATEST(src, dst) AS b FROM eraw\n"
        "  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)"
    ]
    for i in range(1, rounds + 1):
        parts.append(
            ",\n"
            + tri_cte(i)
            + f",\ne{i} AS MATERIALIZED (SELECT e.a, e.b FROM e{i - 1} e"
            f" JOIN s{i} s ON s.a = e.a AND s.b = e.b WHERE s.support >= {sup})"
        )
    final = rounds + 1
    parts.append(",\n" + tri_cte(final))
    parts.append(
        f"\nSELECT e.a, e.b, s.support FROM e{rounds} e"
        f" JOIN s{final} s ON s.a = e.a AND s.b = e.b WHERE s.support >= {sup}"
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# sitemap ingestion — the other half of crawl-frontier construction
# (robots.txt says where NOT to go; sitemaps say where TO go). Dual-engine
# regex like the rest of this module: (?im)/(?is) flags and lazy
# quantifiers behave identically in Java regex and RE2, and whitespace is
# always the explicit ASCII class (Java \s vs RE2 \s diverge on \x0B).
# ---------------------------------------------------------------------------

ROBOTS_SITEMAP_RE = r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^\r\n]+)"
_SM_URL_BLOCK_RE = r"(?is)<url>(.*?)</url>"
_SM_INDEX_BLOCK_RE = r"(?is)<sitemap>(.*?)</sitemap>"
_SM_LOC_RE = r"(?is)<loc>[ \t\n\x0b\f\r]*(.*?)[ \t\n\x0b\f\r]*</loc>"
_SM_LASTMOD_RE = r"(?is)<lastmod>[ \t\n\x0b\f\r]*(.*?)[ \t\n\x0b\f\r]*</lastmod>"


def robots_sitemap_urls(robots: Column) -> Column:
    """Sitemap URLs declared in a robots.txt (the `Sitemap:` directive —
    case-insensitive, valid anywhere in the file, outside agent groups
    per the spec). Trailing inline whitespace is trimmed per entry."""
    raw = F.regexp_extract_all(robots, F.lit(ROBOTS_SITEMAP_RE), F.lit(1))
    return F.filter(
        F.transform(raw, lambda v: F.regexp_replace(v, r"[ \t]+$", "")),
        lambda v: v != F.lit(""),
    )


def robots_sitemap_urls_sql(x: str) -> str:
    pat = sql_lit(ROBOTS_SITEMAP_RE)
    return (
        f"list_filter(list_transform(regexp_extract_all({x}, {pat}, 1), "
        f"v -> regexp_replace(v, '[ \\t]+$', '')), v -> v <> '')"
    )


def sitemap_entries(df: DataFrame, xml_col: str) -> DataFrame:
    """Explode sitemap XML (sitemaps.org protocol) into one row per
    entry: input columns preserved + ``(loc, lastmod, is_index)`` —
    ``is_index`` marks ``<sitemap>`` blocks from a sitemapindex file
    (URLs of FURTHER sitemaps to fetch) vs ``<url>`` page entries.
    Blocks without a <loc> are dropped; missing <lastmod> is NULL.

    Shape: one narrow projection + one Generate (explode) — no shuffle,
    no XML parser dependency: the protocol's fixed tag set makes the
    (?is) lazy-block regex exact for spec-shaped files, and it degrades
    leniently (ignores unknown tags/namespaces) on the rest — the
    extract_links convention, shared verbatim by the DuckDB oracle
    (:func:`sitemap_entries_sql`)."""

    def block(b, is_index: bool):
        loc = F.regexp_extract(b, _SM_LOC_RE, 1)
        lastmod = F.regexp_extract(b, _SM_LASTMOD_RE, 1)
        return F.struct(
            loc.alias("loc"),
            F.nullif(lastmod, F.lit("")).alias("lastmod"),
            F.lit(is_index).alias("is_index"),
        )

    x = F.col(xml_col)
    urls = F.transform(
        F.regexp_extract_all(x, F.lit(_SM_URL_BLOCK_RE), F.lit(1)),
        lambda b: block(b, False),
    )
    idx = F.transform(
        F.regexp_extract_all(x, F.lit(_SM_INDEX_BLOCK_RE), F.lit(1)),
        lambda b: block(b, True),
    )
    entries = F.filter(F.concat(urls, idx), lambda e: e["loc"] != F.lit(""))
    return df.select("*", F.explode(entries).alias("_e")).select(
        *[c for c in df.columns],
        F.col("_e.loc").alias("loc"),
        F.col("_e.lastmod").alias("lastmod"),
        F.col("_e.is_index").alias("is_index"),
    )


def sitemap_entries_sql(x: str) -> str:
    """DuckDB twin of the per-row entry array (unnest it to mirror the
    explode)."""
    ub = sql_lit(_SM_URL_BLOCK_RE)
    ib = sql_lit(_SM_INDEX_BLOCK_RE)
    loc = sql_lit(_SM_LOC_RE)
    lm = sql_lit(_SM_LASTMOD_RE)

    def tr(blocks: str, flag: str) -> str:
        return (
            f"list_transform(regexp_extract_all({blocks}, 1), b -> "
            f"struct_pack(loc := regexp_extract(b, {loc}, 1), "
            f"lastmod := nullif(regexp_extract(b, {lm}, 1), ''), "
            f"is_index := {flag}))"
        )

    return (
        f"list_filter(list_concat("
        f"{tr(f'{x}, {ub}', 'FALSE')}, {tr(f'{x}, {ib}', 'TRUE')}"
        f"), e -> e.loc <> '')"
    )


def powerlaw_alpha(
    degrees: DataFrame,
    value_col: str = "deg",
    kmin: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Power-law exponent MLE over a degree (or frequency) column —
    Clauset, Shalizi & Newman SIAM Rev. 2009's discrete approximation
    ``α ≈ 1 + n / Σ ln(k_i / (kmin − ½))`` for the tail k >= kmin. Web
    link graphs sit near α ≈ 2.1 in-degree; a crawl slice that drifts
    far off (α → 1: a few mega-hubs; α large: no hubs at all) signals
    link farms or a truncated frontier — the one-number companion to
    degree_assortativity and the local-clustering table. Returns ONE
    row ``(n, kmin, sum_ln_micro, alpha)``.

    Exactness: each ln(k/(kmin−0.5)) floor-quantizes to integer micros
    (the shared libm/floor contract), the sum is an order-free BIGINT,
    and α is ONE double division, rounded. One filter + one aggregate —
    scale-free. Rows below kmin (or NULL) are excluded; an empty or
    all-at-kmin tail yields NULL alpha (the MLE is undefined), never a
    div/0."""
    if kmin < 1:
        raise ValueError(f"powerlaw_alpha: kmin must be >= 1, got {kmin}")
    k = F.col(value_col).cast("double")
    base = degrees.where(F.col(value_col).isNotNull() & (k >= kmin)).select(
        F.floor(F.log(k / F.lit(kmin - 0.5)) * F.lit(1_000_000))
        .cast("bigint")
        .alias("_l")
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("_l"), F.lit(0)).cast("bigint").alias("sum_ln_micro"),
    )
    return agg.select(
        "n",
        F.lit(kmin).cast("int").alias("kmin"),
        "sum_ln_micro",
        F.round(
            F.when(
                F.col("sum_ln_micro") > 0,
                F.lit(1.0)
                + F.col("n").cast("double")
                / (F.col("sum_ln_micro").cast("double") / F.lit(1e6)),
            ),
            round_to,
        ).alias("alpha"),
    )


_TAG_NAME_RE = r"(?i)<([a-zA-Z][a-zA-Z0-9]*)"


def structure_fingerprint(html: Column) -> Column:
    """Page-structure fingerprint: md5 of the lower-cased opening-tag
    NAME sequence (content and attributes ignored). Two renders of the
    same template — different articles, same scaffold — collide; the
    per-domain collision rate (:func:`domain_template_stats`) is the
    templated-site signal (high collision = CMS/mirror/SEO-doorway
    farm, a prior for both dedup aggressiveness and quality gating).
    NULL html → NULL fingerprint."""
    tags = F.regexp_extract_all(html, F.lit(_TAG_NAME_RE), F.lit(1))
    return F.md5(F.concat_ws(",", F.transform(tags, F.lower)))


def structure_fingerprint_sql(x: str) -> str:
    pat = sql_lit(_TAG_NAME_RE)
    return (
        f"md5(array_to_string(list_transform("
        f"regexp_extract_all({x}, {pat}, 1), t -> lower(t)), ','))"
    )


def domain_template_stats(
    df: DataFrame, domain_col: str, html_col: str
) -> DataFrame:
    """Per-domain structural diversity: ``(domain, n_pages,
    n_structures, diversity_micro)`` with diversity = distinct
    structure fingerprints per page in integer millionths — 10⁶ means
    every page has its own scaffold, values near 0 mean one template
    stamped across the domain. TWO stacked partial-aggregatable
    groupBys (the l-diversity shape — never countDistinct's Expand);
    NULL-html pages are excluded."""
    fp = structure_fingerprint(F.col(html_col))
    per_fp = (
        df.where(F.col(html_col).isNotNull())
        .select(F.col(domain_col).alias("domain"), fp.alias("_fp"))
        .groupBy("domain", "_fp")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return per_fp.groupBy("domain").agg(
        F.sum("_n").cast("bigint").alias("n_pages"),
        F.count(F.lit(1)).cast("bigint").alias("n_structures"),
        F.expr("count(1) * 1000000 div sum(_n)").cast("bigint").alias(
            "diversity_micro"
        ),
    )


def crawl_rate_violations(
    df: DataFrame,
    host_col: str,
    ts_col: str,
    max_per_window: int,
    window_s: int = 1,
) -> DataFrame:
    """Crawl-politeness audit: fixed windows where a host was hit more
    than ``max_per_window`` times — ``(host, window_start, n_requests)``
    with window_start in epoch seconds. The check a crawler's fetch log
    must pass before anyone talks to the robots.txt lawyers; ONE
    partial-aggregatable groupBy on (host, window), result bounded by
    violating windows. NULL host/ts rows are dropped."""
    if max_per_window < 1 or window_s < 1:
        raise ValueError("crawl_rate_violations: positive limits required")
    win = (
        F.floor(
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            / F.lit(1_000_000 * window_s)
        ).cast("bigint")
        * window_s
    )
    return (
        df.where(F.col(host_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.col(host_col).alias("host"), win.alias("window_start"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_requests"))
        .where(F.col("n_requests") > max_per_window)
    )


ROBOTS_CRAWL_DELAY_RE = r"(?im)^[ \t]*crawl-delay:[ \t]*([0-9]+(?:\.[0-9]+)?)"


def robots_crawl_delay_millis(robots: Column) -> Column:
    """Crawl-delay for the wildcard agent, in integer MILLISECONDS
    (NULL when absent or unparsable) — the per-host politeness rate
    that parameterizes :func:`crawl_rate_violations`; completes the
    robots directive trio (Disallow / Sitemap / Crawl-delay). Reads the
    first declaration inside the ``User-agent: *`` group; fractional
    seconds are honored (floor to millis — the engines' shared integer
    rounding)."""
    seg = F.regexp_extract(robots, ROBOTS_GROUP_RE, 1)
    raw = F.nullif(
        F.regexp_extract(seg, ROBOTS_CRAWL_DELAY_RE, 1), F.lit("")
    )
    return F.floor(raw.cast("double") * F.lit(1000)).cast("bigint")


def robots_crawl_delay_millis_sql(x: str) -> str:
    grp = sql_lit(ROBOTS_GROUP_RE)
    pat = sql_lit(ROBOTS_CRAWL_DELAY_RE)
    return (
        f"CAST(floor(CAST(nullif(regexp_extract("
        f"regexp_extract({x}, {grp}, 1), {pat}, 1), '') AS DOUBLE) * 1000)"
        f" AS BIGINT)"
    )


_HREFLANG_LINK_RE = r"(?is)<link\b([^>]*rel[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*[\"']?alternate[\"']?[^>]*)>"
_HREFLANG_ATTR_RE = r"(?is)hreflang[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*[\"']?([A-Za-z0-9\-]+)"
_HREF_ATTR_RE = r"(?is)(?:^|[ \t\n\x0b\f\r])href[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*[\"']([^\"']+)[\"']"


def hreflang_alternates(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Harvest ``<link rel="alternate" hreflang=...>`` declarations —
    one row per alternate: ``(*id, hreflang, href)`` with hreflang
    lower-cased. The multilingual PAGE GRAPH: hreflang clusters are
    publisher-declared translation sets — the aligned-document source
    for parallel-corpus mining and per-language dedup (translations of
    one page should count once against a multilingual token budget).
    Entries missing either attribute are dropped. Map-only: one
    projection + one Generate, regexes shared verbatim with the
    oracle (:func:`hreflang_alternates_sql`)."""
    links = F.regexp_extract_all(
        F.col(html_col), F.lit(_HREFLANG_LINK_RE), F.lit(1)
    )
    entries = F.filter(
        F.transform(
            links,
            lambda tag: F.struct(
                F.lower(F.regexp_extract(tag, _HREFLANG_ATTR_RE, 1)).alias(
                    "hreflang"
                ),
                F.regexp_extract(tag, _HREF_ATTR_RE, 1).alias("href"),
            ),
        ),
        lambda e: (e["hreflang"] != F.lit("")) & (e["href"] != F.lit("")),
    )
    return (
        df.where(F.col(html_col).isNotNull())
        .select(F.col(id_col), F.explode(entries).alias("_e"))
        .select(id_col, F.col("_e.hreflang").alias("hreflang"),
                F.col("_e.href").alias("href"))
    )


def hreflang_alternates_sql(x: str) -> str:
    """DuckDB twin: the per-row entry array — unnest and filter
    non-empty pairs to mirror the explode."""
    lk = sql_lit(_HREFLANG_LINK_RE)
    hl = sql_lit(_HREFLANG_ATTR_RE)
    hr = sql_lit(_HREF_ATTR_RE)
    return (
        f"list_filter(list_transform(regexp_extract_all({x}, {lk}, 1), tag -> "
        f"struct_pack(hreflang := lower(regexp_extract(tag, {hl}, 1)), "
        f"href := regexp_extract(tag, {hr}, 1))), "
        f"e -> e.hreflang <> '' AND e.href <> '')"
    )


def edge_reciprocity(
    edges: DataFrame, src: str = "src", dst: str = "dst", round_to: int = 6
) -> DataFrame:
    """Directed-graph reciprocity: ONE row ``(n_edges, n_reciprocal,
    reciprocity)`` over the distinct simple digraph — the fraction of
    directed links whose reverse also exists. Organic hyperlink graphs
    sit low (most citations are one-way); link rings and mutual-linking
    SEO schemes push it up — the directed companion to assortativity
    and the clustering table. Self-loops/NULLs dropped; one distinct +
    one self-semi-join on the reversed key + a 2-long aggregate;
    reciprocity is the exact rational n_reciprocal/n_edges, rounded."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst)))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    marked = e.join(rev, ["s", "d"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reciprocal")
    )
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return tot.crossJoin(marked).select(
        "n_edges",
        "n_reciprocal",
        F.round(
            F.when(
                F.col("n_edges") > 0, F.col("n_reciprocal") / F.col("n_edges")
            ),
            round_to,
        ).alias("reciprocity"),
    )


# ---------------------------------------------------------------------------
# head-metadata harvest: rel=canonical / meta robots / Open Graph — the
# publisher-declared signals a Common-Crawl pipeline reads before computing
# anything itself: the canonical link is a DECLARED dedup key (RFC 6596),
# meta robots is the page-level opt-out (the in-page sibling of robots.txt
# and the license/noai taggers), Open Graph is the publisher's own
# title/description/image summary (ogp.me). All quoted-attribute forms,
# both attribute orders, RE2-safe (no lookaround) — one regex table
# renders both engines, the html_to_text convention.
# ---------------------------------------------------------------------------

#: <link rel="canonical" href=...> — rel-then-href and href-then-rel orders.
#: [^>]* never crosses the tag close, so a stylesheet link before the
#: canonical one cannot bleed into the match.
CANONICAL_RH_RE = (
    rf"(?is)<link{_WS}[^>]*rel{_WS}*={_WS}*[\"']{_WS}*canonical{_WS}*[\"']"
    rf"[^>]*href{_WS}*={_WS}*[\"']([^\"'<>]+)[\"']"
)
CANONICAL_HR_RE = (
    rf"(?is)<link{_WS}[^>]*href{_WS}*={_WS}*[\"']([^\"'<>]+)[\"']"
    rf"[^>]*rel{_WS}*={_WS}*[\"']{_WS}*canonical{_WS}*[\"']"
)

#: the page's own scheme://host prefix, for resolving root-relative
#: canonical declarations
_PAGE_BASE_RE = r"(?i)^https?://[^/?#]+"


def rel_canonical(html: Column) -> Column:
    """The declared canonical URL from ``<link rel="canonical">`` —
    '' when absent. First match wins per order-variant; rel-first
    preferred when both forms appear (they agree on real pages).
    Unquoted attribute values are out of scope (the HREF_RE convention;
    disclosed). One narrow regexp projection."""
    rh = F.regexp_extract(html, CANONICAL_RH_RE, 1)
    hr = F.regexp_extract(html, CANONICAL_HR_RE, 1)
    return F.trim(F.when(rh != "", rh).otherwise(hr))


def rel_canonical_sql(x: str) -> str:
    rh = f"regexp_extract({x}, {sql_lit(CANONICAL_RH_RE)}, 1)"
    hr = f"regexp_extract({x}, {sql_lit(CANONICAL_HR_RE)}, 1)"
    return f"trim(CASE WHEN {rh} <> '' THEN {rh} ELSE {hr} END)"


def canonical_target(
    url: Column, html: Column, strip_www: bool = True
) -> Column:
    """Resolved + normalized declared-canonical target — the dedup key
    the publisher ASKS crawlers to use: absolute http(s) declarations
    are taken as declared, root-relative ('/path') resolve against the
    page's own scheme://host, and everything else (absent declaration,
    protocol-relative '//', dir-relative, mailto:) falls back to the
    page's OWN url (disclosed: dir-relative resolution needs the full
    path join, out of scope). Both the declared and the fallback URL
    then pass through :func:`canonical_url`, so declared and crawled
    keys meet in one key space."""
    decl = rel_canonical(html)
    base = F.regexp_extract(url, _PAGE_BASE_RE, 0)
    resolved = (
        F.when(decl.rlike(_ABS_HTTP_RE), decl)
        .when(decl.rlike(r"^//"), url)
        .when(decl.rlike(r"^/") & (base != ""), F.concat(base, decl))
        .otherwise(url)
    )
    return canonical_url(resolved, strip_www=strip_www)


def canonical_target_sql(url_sql: str, html_sql: str, strip_www: bool = True) -> str:
    decl = rel_canonical_sql(html_sql)
    base = f"regexp_extract({url_sql}, {sql_lit(_PAGE_BASE_RE)}, 0)"
    resolved = (
        f"CASE WHEN regexp_matches({decl}, {sql_lit(_ABS_HTTP_RE)}) THEN {decl} "
        f"WHEN regexp_matches({decl}, '^//') THEN {url_sql} "
        f"WHEN regexp_matches({decl}, '^/') AND {base} <> '' "
        f"THEN concat({base}, {decl}) "
        f"ELSE {url_sql} END"
    )
    return canonical_url_sql(resolved, strip_www=strip_www)


def canonical_declared_dedup(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    id_col: str = "doc_id",
    target_col: str = "canonical_target",
    strip_www: bool = True,
) -> DataFrame:
    """One page per DECLARED canonical target — the consolidation step
    search engines apply before any content hashing: every variant page
    (?session=, m., amp.) that declares the same canonical collapses,
    and the page that IS its own canonical wins (else the smallest url,
    then smallest id — deterministic). Scale shape: the url_dedup
    min-struct contract — a hot canonical target (a crawler trap
    declaring one canonical from millions of URLs) partial-aggregates
    map-side, never a window sort; kept rows return via a semi join."""
    canon = df.withColumn(
        target_col,
        canonical_target(F.col(url_col), F.col(html_col), strip_www=strip_www),
    ).withColumn(
        "_self_rank",
        F.when(
            canonical_url(F.col(url_col), strip_www=strip_www)
            == F.col(target_col),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    winners = (
        canon.groupBy(target_col)
        .agg(
            F.min(
                F.struct(
                    F.col("_self_rank").alias("r"),
                    F.col(url_col).alias("u"),
                    F.col(id_col).alias("id"),
                )
            ).alias("w")
        )
        .select(F.col(target_col), F.col("w.id").alias(id_col))
    )
    return canon.join(winners, [target_col, id_col], "left_semi").drop("_self_rank")


def _meta_content_res(attr: str, value: str) -> tuple[str, str]:
    """(forward, reversed) regexes for ``<meta ATTR="VALUE" content=...>``
    with the attributes in either order. ``value`` must be regex-safe
    (plain names like 'robots', 'og:title')."""
    fwd = (
        rf"(?is)<meta{_WS}[^>]*{attr}{_WS}*={_WS}*[\"']{_WS}*{value}{_WS}*[\"']"
        rf"[^>]*content{_WS}*={_WS}*[\"']([^\"'<>]*)[\"']"
    )
    rev = (
        rf"(?is)<meta{_WS}[^>]*content{_WS}*={_WS}*[\"']([^\"'<>]*)[\"']"
        rf"[^>]*{attr}{_WS}*={_WS}*[\"']{_WS}*{value}{_WS}*[\"']"
    )
    return fwd, rev


def meta_content(html: Column, attr: str, value: str) -> Column:
    fwd, rev = _meta_content_res(attr, value)
    a = F.regexp_extract(html, fwd, 1)
    b = F.regexp_extract(html, rev, 1)
    return F.trim(F.when(a != "", a).otherwise(b))


def meta_content_sql(x: str, attr: str, value: str) -> str:
    fwd, rev = _meta_content_res(attr, value)
    a = f"regexp_extract({x}, {sql_lit(fwd)}, 1)"
    b = f"regexp_extract({x}, {sql_lit(rev)}, 1)"
    return f"trim(CASE WHEN {a} <> '' THEN {a} ELSE {b} END)"


#: directive-token normalizer: lowercase, strip ALL whitespace (explicit
#: class — the Java-vs-RE2 \x0B divergence), wrap in commas; a directive
#: is then an exact ',tok,' substring — 'noindexing' can never match.
def _robots_norm(content: Column) -> Column:
    return F.concat(
        F.lit(","),
        F.regexp_replace(F.lower(content), f"{_WS}+", ""),
        F.lit(","),
    )


def _robots_norm_sql(c: str) -> str:
    return f"concat(',', regexp_replace(lower({c}), {sql_lit(_WS + '+')}, '', 'g'), ',')"


def meta_robots_signals(html: Column) -> dict[str, Column]:
    """Page-level crawler opt-outs from ``<meta name="robots">`` — the
    in-page sibling of robots.txt (which gates FETCHING; this gates
    indexing/archiving of a page already fetched — a compliant corpus
    pipeline honors noindex/noarchive at ingest, exactly like the
    license/noai taggers): ``robots_content`` plus whole-token
    ``noindex`` / ``nofollow`` / ``noarchive`` booleans ('none' implies
    noindex+nofollow per the Google/Bing convention). One projection."""
    content = meta_content(html, "name", "robots")
    norm = _robots_norm(content)
    none_tok = norm.contains(",none,")
    return {
        "robots_content": content,
        "noindex": norm.contains(",noindex,") | none_tok,
        "nofollow": norm.contains(",nofollow,") | none_tok,
        "noarchive": norm.contains(",noarchive,"),
    }


def meta_robots_signals_sql(x: str) -> dict[str, str]:
    content = meta_content_sql(x, "name", "robots")
    norm = _robots_norm_sql(content)
    none_tok = f"contains({norm}, ',none,')"
    return {
        "robots_content": content,
        "noindex": f"(contains({norm}, ',noindex,') OR {none_tok})",
        "nofollow": f"(contains({norm}, ',nofollow,') OR {none_tok})",
        "noarchive": f"contains({norm}, ',noarchive,')",
    }


OG_DEFAULT_PROPS = ("title", "description", "url", "image")


def og_properties(
    html: Column, props: tuple[str, ...] = OG_DEFAULT_PROPS
) -> dict[str, Column]:
    """Open Graph harvest (ogp.me ``<meta property="og:*" content=...>``)
    — the publisher's own structured summary, the third structured-data
    carrier beside JSON-LD and <table> grids: og:title/og:description
    give clean title/abstract text where <title> carries site-name
    boilerplate, og:url is yet another declared-canonical signal, and
    og:image names the page's lead image. One projection; keys are
    ``og_<prop>``."""
    return {f"og_{p}": meta_content(html, "property", f"og:{p}") for p in props}


def og_properties_sql(
    x: str, props: tuple[str, ...] = OG_DEFAULT_PROPS
) -> dict[str, str]:
    return {f"og_{p}": meta_content_sql(x, "property", f"og:{p}") for p in props}


# ---------------------------------------------------------------------------
# RSS / Atom feed discovery + entry harvest — the THIRD frontier source
# beside robots.txt (where not to go) and sitemaps (where to go): feeds
# say what's NEW, with timestamps and titles — the freshness-crawl input.
# Same dual-engine regex contract as the sitemap block above.
# ---------------------------------------------------------------------------

#: <link type="application/rss+xml|atom+xml" href=...> in either attribute
#: order — the type attribute is the discriminator (feeds declare it;
#: rel="alternate" is conventional but not load-bearing)
FEED_TYPE_HREF_RE = (
    rf"(?is)<link{_WS}[^>]*type{_WS}*={_WS}*[\"']application/(?:rss|atom)\+xml[\"']"
    rf"[^>]*href{_WS}*={_WS}*[\"']([^\"'<>]+)[\"']"
)
FEED_HREF_TYPE_RE = (
    rf"(?is)<link{_WS}[^>]*href{_WS}*={_WS}*[\"']([^\"'<>]+)[\"']"
    rf"[^>]*type{_WS}*={_WS}*[\"']application/(?:rss|atom)\+xml[\"']"
)

_RSS_ITEM_RE = r"(?is)<item(?:[ \t\n\x0b\f\r][^>]*)?>(.*?)</item>"
_ATOM_ENTRY_RE = r"(?is)<entry(?:[ \t\n\x0b\f\r][^>]*)?>(.*?)</entry>"
_FEED_TITLE_RE = r"(?is)<title(?:[ \t\n\x0b\f\r][^>]*)?>[ \t\n\x0b\f\r]*(.*?)[ \t\n\x0b\f\r]*</title>"
_RSS_LINK_RE = r"(?is)<link>[ \t\n\x0b\f\r]*(.*?)[ \t\n\x0b\f\r]*</link>"
_RSS_PUBDATE_RE = r"(?is)<pubDate>[ \t\n\x0b\f\r]*(.*?)[ \t\n\x0b\f\r]*</pubDate>"
_RSS_GUID_RE = r"(?is)<guid(?:[ \t\n\x0b\f\r][^>]*)?>[ \t\n\x0b\f\r]*(.*?)[ \t\n\x0b\f\r]*</guid>"
_ATOM_LINK_RE = r"(?is)<link[^>]*href[ \t\n\x0b\f\r]*=[ \t\n\x0b\f\r]*[\"']([^\"'<>]+)[\"']"
_ATOM_UPDATED_RE = r"(?is)<updated>[ \t\n\x0b\f\r]*(.*?)[ \t\n\x0b\f\r]*</updated>"
_ATOM_ID_RE = r"(?is)<id>[ \t\n\x0b\f\r]*(.*?)[ \t\n\x0b\f\r]*</id>"

_CDATA_OPEN_RE = r"(?is)^<!\[CDATA\["
_CDATA_CLOSE_RE = r"\]\]>$"


def feed_links(html: Column) -> Column:
    """Array of declared feed URLs from a page's head — feed DISCOVERY
    (both attribute orders; a tag matches exactly one order, so the
    concat never duplicates). Document order preserved per order-variant."""
    a = F.regexp_extract_all(html, F.lit(FEED_TYPE_HREF_RE), F.lit(1))
    b = F.regexp_extract_all(html, F.lit(FEED_HREF_TYPE_RE), F.lit(1))
    return F.concat(a, b)


def feed_links_sql(x: str) -> str:
    a = f"regexp_extract_all({x}, {sql_lit(FEED_TYPE_HREF_RE)}, 1)"
    b = f"regexp_extract_all({x}, {sql_lit(FEED_HREF_TYPE_RE)}, 1)"
    return f"list_concat({a}, {b})"


def _cdata_unwrap(v: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(v, _CDATA_OPEN_RE, ""), _CDATA_CLOSE_RE, ""
    )


def _cdata_unwrap_sql(v: str) -> str:
    return (
        f"regexp_replace(regexp_replace({v}, {sql_lit(_CDATA_OPEN_RE)}, ''), "
        f"{sql_lit(_CDATA_CLOSE_RE)}, '')"
    )


def feed_entries(df: DataFrame, xml_col: str) -> DataFrame:
    """Explode RSS 2.0 / Atom feed XML into one row per entry: input
    columns preserved + ``(feed_format, title, link, published,
    entry_id)`` — 'rss' from ``<item>`` blocks (link/pubDate/guid),
    'atom' from ``<entry>`` blocks (link href=/updated/id). CDATA
    titles unwrap; missing fields are NULL; blocks with neither link
    nor id are dropped (nothing to crawl or dedup on).

    Shape: the sitemap_entries contract — one narrow projection + one
    Generate, no shuffle, no XML parser dependency: the two formats'
    fixed tag sets make the lazy-block regexes exact on spec-shaped
    feeds and leniently degrading on the rest, shared verbatim with the
    DuckDB oracle (:func:`feed_entries_sql`)."""

    def rss_block(b):
        return F.struct(
            F.lit("rss").alias("feed_format"),
            F.nullif(_cdata_unwrap(F.regexp_extract(b, _FEED_TITLE_RE, 1)), F.lit("")).alias("title"),
            F.nullif(F.regexp_extract(b, _RSS_LINK_RE, 1), F.lit("")).alias("link"),
            F.nullif(F.regexp_extract(b, _RSS_PUBDATE_RE, 1), F.lit("")).alias("published"),
            F.nullif(_cdata_unwrap(F.regexp_extract(b, _RSS_GUID_RE, 1)), F.lit("")).alias("entry_id"),
        )

    def atom_block(b):
        return F.struct(
            F.lit("atom").alias("feed_format"),
            F.nullif(_cdata_unwrap(F.regexp_extract(b, _FEED_TITLE_RE, 1)), F.lit("")).alias("title"),
            F.nullif(F.regexp_extract(b, _ATOM_LINK_RE, 1), F.lit("")).alias("link"),
            F.nullif(F.regexp_extract(b, _ATOM_UPDATED_RE, 1), F.lit("")).alias("published"),
            F.nullif(F.regexp_extract(b, _ATOM_ID_RE, 1), F.lit("")).alias("entry_id"),
        )

    x = F.col(xml_col)
    rss = F.transform(
        F.regexp_extract_all(x, F.lit(_RSS_ITEM_RE), F.lit(1)), rss_block
    )
    atom = F.transform(
        F.regexp_extract_all(x, F.lit(_ATOM_ENTRY_RE), F.lit(1)), atom_block
    )
    entries = F.filter(
        F.concat(rss, atom),
        lambda e: e["link"].isNotNull() | e["entry_id"].isNotNull(),
    )
    return df.select("*", F.explode(entries).alias("_e")).select(
        *[c for c in df.columns],
        F.col("_e.feed_format").alias("feed_format"),
        F.col("_e.title").alias("title"),
        F.col("_e.link").alias("link"),
        F.col("_e.published").alias("published"),
        F.col("_e.entry_id").alias("entry_id"),
    )


def feed_entries_sql(x: str) -> str:
    """DuckDB twin of the per-row entry array (unnest to mirror the
    explode)."""
    title = _cdata_unwrap_sql(
        f"regexp_extract(b, {sql_lit(_FEED_TITLE_RE)}, 1)"
    )
    guid = _cdata_unwrap_sql(
        f"regexp_extract(b, {sql_lit(_RSS_GUID_RE)}, 1)"
    )
    rss = (
        f"list_transform(regexp_extract_all({x}, {sql_lit(_RSS_ITEM_RE)}, 1), b -> "
        f"struct_pack(feed_format := 'rss', "
        f"title := nullif({title}, ''), "
        f"link := nullif(regexp_extract(b, {sql_lit(_RSS_LINK_RE)}, 1), ''), "
        f"published := nullif(regexp_extract(b, {sql_lit(_RSS_PUBDATE_RE)}, 1), ''), "
        f"entry_id := nullif({guid}, '')))"
    )
    atom = (
        f"list_transform(regexp_extract_all({x}, {sql_lit(_ATOM_ENTRY_RE)}, 1), b -> "
        f"struct_pack(feed_format := 'atom', "
        f"title := nullif({title}, ''), "
        f"link := nullif(regexp_extract(b, {sql_lit(_ATOM_LINK_RE)}, 1), ''), "
        f"published := nullif(regexp_extract(b, {sql_lit(_ATOM_UPDATED_RE)}, 1), ''), "
        f"entry_id := nullif({_cdata_unwrap_sql(f'regexp_extract(b, {sql_lit(_ATOM_ID_RE)}, 1)')}, '')))"
    )
    return (
        f"list_filter(list_concat({rss}, {atom}), "
        f"e -> e.link IS NOT NULL OR e.entry_id IS NOT NULL)"
    )


ROBOTS_ALLOW_RE = r"(?im)^[ \t]*allow:[ \t]*([^ \t\r\n#]*)"


def robots_allow_prefixes(robots: Column) -> Column:
    """Allowed path prefixes for the wildcard agent (non-empty only) —
    the carve-out half of RFC 9309: 'Disallow: /private' +
    'Allow: /private/press' re-opens the press subtree."""
    seg = F.regexp_extract(robots, ROBOTS_GROUP_RE, 1)
    allp = F.regexp_extract_all(seg, F.lit(ROBOTS_ALLOW_RE), F.lit(1))
    return F.filter(allp, lambda p: p != F.lit(""))


def robots_allow_prefixes_sql(x: str) -> str:
    grp = sql_lit(ROBOTS_GROUP_RE)
    alw = sql_lit(ROBOTS_ALLOW_RE)
    return (
        f"list_filter(regexp_extract_all(regexp_extract({x}, {grp}, 1), "
        f"{alw}, 1), p -> p <> '')"
    )


def robots_decision(pq: Column, dis: Column, alw: Column) -> Column:
    """RFC 9309 §2.2.2 precedence as a Column: TRUE = blocked. The most
    specific (LONGEST) matching rule wins; on an exact length tie the
    Allow rule wins. Pure bounded HOFs over the host's few rules —
    longest matching prefix length per list via transform→filter→max,
    no match → −1 (so no-rules and allow-only hosts stay crawlable)."""

    def longest(rules: Column) -> Column:
        return F.coalesce(
            F.array_max(
                F.transform(
                    F.filter(rules, lambda p: pq.startswith(p)), F.length
                )
            ),
            F.lit(-1),
        )

    return longest(dis) > longest(alw)


def robots_decision_sql(pq: str, dis: str, alw: str) -> str:
    def longest(rules: str) -> str:
        return (
            f"coalesce(list_max(list_transform(list_filter({rules}, "
            f"p -> starts_with({pq}, p)), p -> length(p))), -1)"
        )

    return f"({longest(dis)} > {longest(alw)})"


def robots_filter_rfc(
    docs: DataFrame,
    url_col: str,
    robots: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
    strip_www: bool = True,
) -> DataFrame:
    """:func:`robots_filter` upgraded to full RFC 9309 §2.2.2 precedence
    — Allow: carve-outs honored with longest-match-wins (Allow wins
    exact ties): 'Disallow: /private' no longer hides
    '/private/press/release.html' when the site explicitly re-opened
    '/private/press'. Same scale shape as robots_filter: one-row-per-
    host rule table (defensive group-merge), host equi-join, bounded
    per-host HOF decision — the Disallow-only form remains for corpora
    whose robots never carve out (one array fewer in flight)."""
    rh = F.lower(F.col(host_col))
    if strip_www:
        rh = F.regexp_replace(rh, r"^www\.", "")
    rules = (
        robots.select(
            rh.alias("_rh"),
            robots_disallow_prefixes(F.col(robots_col)).alias("_pd"),
            robots_allow_prefixes(F.col(robots_col)).alias("_pa"),
        )
        .groupBy("_rh")
        .agg(
            F.array_distinct(F.flatten(F.collect_list("_pd"))).alias("_dis"),
            F.array_distinct(F.flatten(F.collect_list("_pa"))).alias("_alw"),
        )
    )
    joined = (
        docs.withColumn(
            "_canon", canonical_url(F.col(url_col), strip_www=strip_www)
        )
        .withColumn("_h", canonical_host(F.col("_canon")))
        .withColumn("_pq", robots_url_path(F.col(url_col)))
        .drop("_canon")
        .join(rules, F.col("_h") == F.col("_rh"), "left")
    )
    blocked = robots_decision(F.col("_pq"), F.col("_dis"), F.col("_alw"))
    return joined.where(~F.coalesce(blocked, F.lit(False))).drop(
        "_h", "_pq", "_rh", "_dis", "_alw"
    )


# ---------------------------------------------------------------------------
# RFC 3986 §6.2.2.2 percent-encoding normalization — the canonical_url gap:
# 'https://ex.com/%7Euser' and 'https://ex.com/~user' are THE SAME resource
# by spec, but hash to different dedup keys until the unreserved escapes
# decode. Only the unreserved set (ALPHA / DIGIT / - . _ ~) ever decodes —
# decoding a reserved escape (%2F) would CHANGE the URL's meaning.
# ---------------------------------------------------------------------------

_UNRESERVED = (
    [chr(c) for c in range(ord("A"), ord("Z") + 1)]
    + [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + [chr(c) for c in range(ord("0"), ord("9") + 1)]
    + ["-", ".", "_", "~"]
)

#: (case-insensitive escape regex, replacement) pairs, Python-generated
#: once — the mojibake-table convention: the table derives from the
#: characters themselves, so no literal can be mistyped
_PCT_DECODE_TABLE = [
    (rf"(?i)%{ord(ch):02X}", ch.replace("\\", "\\\\")) for ch in _UNRESERVED
]


def pct_normalize(url: Column) -> Column:
    """Decode every percent-escape of an UNRESERVED character
    (RFC 3986 §6.2.2.2) — a fixed chain of case-insensitive replaces
    generated from the unreserved set itself. Reserved escapes (%2F,
    %3F, %23 …) are left untouched: decoding them would change meaning.
    Compose BEFORE :func:`canonical_url` so spec-equal URLs meet in one
    dedup key. Escape-hex case normalization of the REMAINING escapes
    (%2f → %2F) needs a replace callback neither engine's regex offers
    and is out of scope (disclosed) — it only matters for reserved
    escapes, which are rare in organic URLs."""
    out = url
    for pat, rep in _PCT_DECODE_TABLE:
        out = F.regexp_replace(out, pat, rep)
    return out


def pct_normalize_sql(x: str) -> str:
    out = x
    for pat, rep in _PCT_DECODE_TABLE:
        out = f"regexp_replace({out}, {sql_lit(pat)}, '{rep}', 'g')"
    return out


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a community partition (Newman & Girvan PRE
    2004), per community → ``(label, n_nodes, intra_edges, degree_sum,
    intra_micro, expected_micro, q_micro)``; the partition verdict for
    :func:`label_propagation`'s output (LPA says WHERE the communities
    are; Q says whether they beat a random graph with the same degrees).

    Q = Σ_c [ L_c/m − (D_c/(2m))² ]. Each community's two fractions are
    floored SEPARATELY as nonnegative integer micros — ``1e6·L_c div m``
    and ``1e6·D_c² div 4m²`` in DECIMAL(38,0) (D_c ≤ 2m, so D_c² at
    10^12 edges needs the wide lane; HUGEINT ``//`` floors identically
    on nonneg, the HITS contract) — and ``q_micro`` is their plain
    difference, so no negative value ever meets a division (Spark
    ``div`` truncates toward zero, DuckDB ``//`` floors: they only
    agree on nonnegatives).

    Scale shape: canonical undirected edge set is ONE distinct (reused
    via localCheckpoint across the count, the degree agg and the intra
    join); everything downstream is label-keyed partial aggregation —
    result is bounded by #communities. Nodes absent from ``labels``
    contribute nothing (inner join; LPA labels cover every graph node
    by construction).
    """
    ue = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    m = ue.count()
    lab = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("label")
    )
    if m == 0:
        return lab.groupBy("label").agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.lit(0).cast("bigint").alias("intra_edges"),
            F.lit(0).cast("bigint").alias("degree_sum"),
            F.lit(0).cast("bigint").alias("intra_micro"),
            F.lit(0).cast("bigint").alias("expected_micro"),
            F.lit(0).cast("bigint").alias("q_micro"),
        )
    deg = (
        ue.select(F.col("a").alias("_n"))
        .unionByName(ue.select(F.col("b").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_d"))
    )
    nstat = (
        lab.join(deg, "_n")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("_d").cast("bigint").alias("degree_sum"),
        )
    )
    la = lab.select(F.col("_n").alias("a"), F.col("label").alias("_la"))
    lb = lab.select(F.col("_n").alias("b"), F.col("label").alias("_lb"))
    intra = (
        ue.join(la, "a")
        .join(lb, "b")
        .where(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("intra_edges"))
    )
    d38 = "decimal(38,0)"
    m_lit = f"CAST({m} AS {d38})"
    return (
        nstat.join(intra, "label", "left")
        .select(
            "label",
            "n_nodes",
            F.coalesce(F.col("intra_edges"), F.lit(0)).cast("bigint").alias(
                "intra_edges"
            ),
            "degree_sum",
            F.expr(
                f"CAST(CAST(coalesce(intra_edges, 0) AS {d38}) * 1000000"
                f" div {m_lit} AS BIGINT)"
            ).alias("intra_micro"),
            F.expr(
                f"CAST(CAST(degree_sum AS {d38}) * CAST(degree_sum AS {d38})"
                f" * 1000000 div (4 * {m_lit} * {m_lit}) AS BIGINT)"
            ).alias("expected_micro"),
        )
        .withColumn("q_micro", F.col("intra_micro") - F.col("expected_micro"))
    )


def modularity_oracle_sql(edges_sql: str, labels_sql: str) -> str:
    """DuckDB replay of :func:`modularity` — ``labels_sql`` may itself
    be a full unrolled replay (e.g.
    :func:`label_propagation_oracle_sql`), embedded as a MATERIALIZED
    subquery so chained unrolls don't inline exponentially."""
    return f"""WITH me AS MATERIALIZED ({edges_sql}),
lab AS MATERIALIZED (SELECT node AS n, label FROM ({labels_sql})),
ue AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM me
  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM ue),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
  SELECT a AS n FROM ue UNION ALL SELECT b FROM ue) GROUP BY n),
nstat AS (SELECT lab.label, CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(deg.d) AS BIGINT) AS degree_sum
          FROM lab JOIN deg ON lab.n = deg.n GROUP BY lab.label),
intra AS (SELECT la.label, CAST(count(*) AS BIGINT) AS intra_edges
          FROM ue JOIN lab la ON ue.a = la.n JOIN lab lb ON ue.b = lb.n
          WHERE la.label = lb.label GROUP BY la.label)
SELECT *, intra_micro - expected_micro AS q_micro FROM (
  SELECT nstat.label, n_nodes, coalesce(intra_edges, CAST(0 AS BIGINT))
           AS intra_edges, degree_sum,
         CAST(CAST(coalesce(intra_edges, 0) AS HUGEINT) * 1000000
              // (SELECT m FROM mm) AS BIGINT) AS intra_micro,
         CAST(CAST(degree_sum AS HUGEINT) * CAST(degree_sum AS HUGEINT)
              * 1000000 // (4 * (SELECT m FROM mm) * (SELECT m FROM mm))
              AS BIGINT) AS expected_micro
  FROM nstat LEFT JOIN intra ON nstat.label = intra.label)"""


def spam_mass(
    edges: DataFrame,
    trusted_seeds: list[int],
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Spam mass via TrustRank (Gyöngyi et al. VLDB'04 seed-trust
    propagation; spam mass per Gyöngyi et al. VLDB'06): TrustRank IS
    :func:`personalized_pagerank` teleporting to a hand-picked trusted
    seed set, and a page's relative spam mass is the fraction of its
    PageRank NOT reachable through trust — ``(PR − TR)/PR`` →
    ``(node, rank_micro, trust_micro, spam_mass_micro)``. High mass =
    rank earned from link structure the trusted core never vouches
    for, the classic link-farm signal.

    Both ranks run the same integer micro-unit iteration at the same
    total ``scale``, so the mass is a ratio of exact integers;
    the division is guarded into two nonnegative branches (Spark
    ``div`` truncates, DuckDB ``//`` floors — they only agree on
    nonnegs; trusted pages with TR > PR get the negated nonneg
    quotient). Composition cost: two independent rank loops over the
    same edge set (each with its own lineage-cut discipline), one
    node-keyed join at the end.
    """
    pr = pagerank(
        edges, src, dst, iterations=iterations,
        damping_pct=damping_pct, scale=scale,
    )
    tr = personalized_pagerank(
        edges, trusted_seeds, src, dst, iterations=iterations,
        damping_pct=damping_pct, scale=scale,
    )
    return (
        pr.join(
            tr.select(
                F.col("node"), F.col("rank_micro").alias("trust_micro")
            ),
            "node",
        )
        .select(
            "node", "rank_micro", "trust_micro",
            F.expr(
                "CASE WHEN rank_micro = 0 THEN NULL"
                " WHEN rank_micro >= trust_micro THEN"
                "  (rank_micro - trust_micro) * 1000000 div rank_micro"
                " ELSE -((trust_micro - rank_micro) * 1000000 div rank_micro)"
                " END"
            ).alias("spam_mass_micro"),
        )
    )


def spam_mass_oracle_sql(
    edges_sql: str,
    trusted_seeds: list[int],
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """DuckDB replay of :func:`spam_mass`: both unrolled rank replays
    MATERIALIZED, joined, same two-branch guarded division."""
    pr = pagerank_oracle_sql(
        edges_sql, iterations=iterations,
        damping_pct=damping_pct, scale=scale,
    )
    tr = ppr_oracle_sql(
        edges_sql, seeds=trusted_seeds, iterations=iterations,
        damping_pct=damping_pct, scale=scale,
    )
    return f"""WITH pr AS MATERIALIZED ({pr}),
tr AS MATERIALIZED ({tr})
SELECT pr.node, pr.rank_micro, tr.rank_micro AS trust_micro,
       CASE WHEN pr.rank_micro = 0 THEN NULL
            WHEN pr.rank_micro >= tr.rank_micro THEN
              (pr.rank_micro - tr.rank_micro) * 1000000 // pr.rank_micro
            ELSE -((tr.rank_micro - pr.rank_micro) * 1000000 // pr.rank_micro)
            END AS spam_mass_micro
FROM pr JOIN tr ON pr.node = tr.node"""


_TPL_PATH_RE = r"^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)?"


def path_template(canon_url: Column) -> Column:
    """URL path template: the path with volatile segments generalized —
    pure-digit segments → ``{n}``, long-hex segments (≥ 8 chars:
    ids/hashes/uuids-sans-dashes) → ``{h}`` — so ``/articles/17`` and
    ``/articles/23`` collapse to ``/articles/{n}``. Built as a
    split→transform→concat HOF chain (RE2 has no lookahead, so the
    slash-boundary problem is solved by never regexing across
    boundaries at all); engine-portable, one narrow projection.
    Empty/missing path → ``/``."""
    path = F.regexp_extract(canon_url, _TPL_PATH_RE, 1)
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    segs = F.split(path, "/")
    gen = F.transform(
        segs,
        lambda s: F.when(s.rlike(r"^[0-9]+$"), F.lit("{n}"))
        .when(s.rlike(r"^[0-9a-f]{8,}$"), F.lit("{h}"))
        .otherwise(s),
    )
    return F.concat_ws("/", gen)


def path_templates(
    df: DataFrame, url_col: str, min_urls: int = 2
) -> DataFrame:
    """Site path-template inventory (the ``/product/{n}`` map): per
    (host, template), how many URLs instantiate it and how many
    DISTINCT paths those are — the structure-discovery complement to
    the tag-sequence templated-site detector (that one fingerprints
    RENDERED structure; this one fingerprints the URL SPACE, which is
    what a crawler budgets by: a template with 10⁷ fills and identical
    rendered structure is one database table, not ten million pages,
    and the dedup/crawl-budget decision wants exactly that row).
    ``(host, template, n_urls, n_variants)``, templates with ≥
    ``min_urls`` URLs.

    Scale shape: one narrow projection (canonicalize + HOF template)
    into a two-level partial agg — (host, template, path) counts then
    (host, template) — the fd.py fan-out discipline, no
    countDistinct Expand. The result is bounded by the site's template
    vocabulary, not its URL count.
    """
    canon = canonical_url(F.col(url_col))
    base = df.select(
        canonical_host(canon).alias("host"),
        path_template(canon).alias("template"),
        F.regexp_extract(canon, _TPL_PATH_RE, 1).alias("_path"),
    ).where(F.col("host").isNotNull() & (F.length("host") > 0))
    lvl1 = base.groupBy("host", "template", "_path").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    return (
        lvl1.groupBy("host", "template")
        .agg(
            F.sum("_n").cast("bigint").alias("n_urls"),
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        )
        .where(F.col("n_urls") >= min_urls)
    )


def _reach_closure(
    e: DataFrame, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """Reachability closure ``(node)`` of a DataFrame seed set over a
    pre-distinct'd, checkpointed edge frame — the set-only variant of
    :func:`bfs_distances` (whose Python-list seeds can't carry a
    corpus-derived frontier). Same Pregel discipline: shrinking
    frontier ⋈ edges, anti-join the reached set, lineage cut per round,
    empty-frontier exit."""
    from xmlschemavalidator_spark.session import free_local_checkpoint

    frontier = seeds.select("node").distinct().localCheckpoint()
    reached = frontier  # aliased on round 0 — never free while aliased
    for _ in range(max_hops):
        nxt = (
            e.join(frontier, e["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reached, "node", "left_anti")
            .localCheckpoint()
        )
        if frontier is not reached:
            free_local_checkpoint(frontier)
        frontier = nxt
        if frontier.isEmpty():
            break
        prev = reached
        reached = reached.unionByName(frontier).localCheckpoint()
        free_local_checkpoint(prev)
    return reached


def bowtie_decomposition(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    pivot: int | None = None,
    max_hops: int = 32,
) -> DataFrame:
    """Broder bow-tie decomposition of the directed link graph (Broder
    et al. WWW'00 "Graph structure in the Web") around the pivot's
    strongly connected component: ``(node, component)`` with component ∈
    SCC / IN / OUT / TUBE / TENDRIL_IN / TENDRIL_OUT / DISCONNECTED —
    the macro-shape audit of a crawl slice (the paper's ~56M-node
    measurement: ≈28% SCC, ≈21% IN, ≈21% OUT). A frontier that stopped
    expanding reads as IN collapsing; a link farm reads as OUT/TENDRIL
    mass growing.

    ``pivot`` defaults to the max-total-degree node (ties → smallest
    id) — in a web graph that node sits in the giant SCC, which is the
    component the taxonomy is ABOUT; pass an explicit pivot to decompose
    around a known core. Disclosed scope: this is the bow-tie around the
    PIVOT's SCC (the paper's giant component), not a full SCC
    enumeration — smaller SCCs land in the peripheral classes exactly as
    Broder's taxonomy files them.

    Machinery: four reachability closures (forward/backward from the
    pivot; forward from IN; backward from OUT), each the shrinking-
    frontier Pregel loop with per-round lineage cuts; classification is
    then pure set algebra (joins/anti-joins on the node table):
    SCC = F∩B, IN = B∖F, OUT = F∖B, and the remainder splits by
    (reachable-from-IN × reaches-OUT) into TUBE / TENDRIL_IN /
    TENDRIL_OUT / DISCONNECTED. All-integer → the recursive-CTE DuckDB
    replay hashes identically.

    Scale shape: everything is node- or edge-keyed partial-aggregatable
    joins; the only driver-sized object is the single pivot row. At web
    scale pick ``max_hops`` ≥ the effective diameter (the paper
    measures ~16-20 for the web's directed distances).
    """
    from xmlschemavalidator_spark.session import free_local_checkpoint

    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    if pivot is None:
        deg = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("_d"))
            .orderBy(F.col("_d").desc(), F.col("node").asc())
            .limit(1)
            .collect()
        )
        if not deg:
            return spark.createDataFrame([], "node bigint, component string")
        pivot = int(deg[0]["node"])
    seed = spark.createDataFrame([(int(pivot),)], "node bigint")
    fwd = _reach_closure(e, seed, max_hops)
    bwd = _reach_closure(rev, seed, max_hops)
    scc = fwd.join(bwd, "node").localCheckpoint()
    in_ = bwd.join(fwd, "node", "left_anti").localCheckpoint()
    out_ = fwd.join(bwd, "node", "left_anti").localCheckpoint()
    rest = (
        nodes.join(fwd, "node", "left_anti")
        .join(bwd, "node", "left_anti")
        .localCheckpoint()
    )
    fwd_in = _reach_closure(e, in_, max_hops)
    bwd_out = _reach_closure(rev, out_, max_hops)
    tube = rest.join(fwd_in, "node").join(bwd_out, "node")
    t_in = rest.join(fwd_in, "node").join(bwd_out, "node", "left_anti")
    t_out = rest.join(bwd_out, "node").join(fwd_in, "node", "left_anti")
    disc = rest.join(fwd_in, "node", "left_anti").join(
        bwd_out, "node", "left_anti"
    )
    out = (
        scc.withColumn("component", F.lit("SCC"))
        .unionByName(in_.withColumn("component", F.lit("IN")))
        .unionByName(out_.withColumn("component", F.lit("OUT")))
        .unionByName(tube.withColumn("component", F.lit("TUBE")))
        .unionByName(t_in.withColumn("component", F.lit("TENDRIL_IN")))
        .unionByName(t_out.withColumn("component", F.lit("TENDRIL_OUT")))
        .unionByName(disc.withColumn("component", F.lit("DISCONNECTED")))
        .select(F.col("node").cast("bigint").alias("node"), "component")
    )
    result = out.localCheckpoint()
    for frame in (e, rev, nodes, fwd, bwd, scc, in_, out_, rest, fwd_in, bwd_out):
        free_local_checkpoint(frame)
    return result


def bowtie_oracle_sql(edges_sql: str, max_hops: int = 32) -> str:
    """DuckDB replay of :func:`bowtie_decomposition` with the default
    max-degree/min-id pivot: four bounded recursive closures + the same
    set algebra."""

    def walk(name: str, seed_sql: str, edge: str) -> str:
        return f"""{name}(node, d) AS (
    SELECT node, 0 FROM ({seed_sql})
    UNION
    SELECT {edge}.dst, w.d + 1 FROM {edge} JOIN {name} w ON {edge}.src = w.node
    WHERE w.d < {max_hops}),
{name}_set AS (SELECT DISTINCT node FROM {name})"""

    return f"""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({edges_sql})
    WHERE src IS NOT NULL AND dst IS NOT NULL),
rev AS (SELECT dst AS src, src AS dst FROM e),
nodes AS (SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
pvt AS (SELECT node FROM (
    SELECT node, count(*) AS d FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u
    GROUP BY node) t
  ORDER BY d DESC, node ASC LIMIT 1),
{walk("fwd", "SELECT node FROM pvt", "e")},
{walk("bwd", "SELECT node FROM pvt", "rev")},
-- set algebra spelled as EXISTS joins: DuckDB rejects INTERSECT/EXCEPT
-- CTEs inside a WITH RECURSIVE list
scc AS (SELECT f.node FROM fwd_set f
        WHERE EXISTS (SELECT 1 FROM bwd_set b WHERE b.node = f.node)),
in_ AS (SELECT b.node FROM bwd_set b
        WHERE NOT EXISTS (SELECT 1 FROM fwd_set f WHERE f.node = b.node)),
out_ AS (SELECT f.node FROM fwd_set f
        WHERE NOT EXISTS (SELECT 1 FROM bwd_set b WHERE b.node = f.node)),
rest AS (SELECT n.node FROM nodes n
        WHERE NOT EXISTS (SELECT 1 FROM fwd_set f WHERE f.node = n.node)
          AND NOT EXISTS (SELECT 1 FROM bwd_set b WHERE b.node = n.node)),
{walk("fwdin", "SELECT node FROM in_", "e")},
{walk("bwdout", "SELECT node FROM out_", "rev")},
labeled AS (
  SELECT node, 'SCC' AS component FROM scc
  UNION ALL SELECT node, 'IN' FROM in_
  UNION ALL SELECT node, 'OUT' FROM out_
  UNION ALL
  SELECT r.node,
    CASE WHEN fi.node IS NOT NULL AND bo.node IS NOT NULL THEN 'TUBE'
         WHEN fi.node IS NOT NULL THEN 'TENDRIL_IN'
         WHEN bo.node IS NOT NULL THEN 'TENDRIL_OUT'
         ELSE 'DISCONNECTED' END
  FROM rest r
  LEFT JOIN fwdin_set fi ON r.node = fi.node
  LEFT JOIN bwdout_set bo ON r.node = bo.node)
SELECT CAST(node AS BIGINT) AS node, component FROM labeled"""


def morans_i(
    edges: DataFrame,
    attrs: DataFrame,
    value_col: str,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    quantum: int = 1_000_000,
    z_crit_milli: int = 1960,
    round_to: int = 6,
) -> DataFrame:
    """Moran's I network autocorrelation (Moran 1950; Cliff & Ord 1981
    randomization inference) of a node attribute over the link graph —
    the do-CONNECTED-pages-share-quality question none of the
    per-node or per-edge analyzers ask: spam scores clustering along
    links (I > E[I]) is the link-farm texture, quality anti-correlated
    with neighbors (I < E[I]) the parasite pattern. Binary weights =
    the DIRECTED edge list as given (symmetrize upstream for the
    undirected convention — stated). ONE row ``(n_nodes, n_edges, i,
    expected_i, z, p, pattern)`` with pattern ∈ clustered / dispersed
    / none by the integer-milli z compare, z from the full Cliff–Ord
    randomization variance (S1/S2/kurtosis form — not the normality
    shortcut).

    Determinism contract: values micro-quantize; centered values
    z_i = x − S/n are one exact-IEEE chain each; every pair/degree
    moment is 6dp-rounded then DECIMAL(38,6)-summed (order-free); the
    final statistic is a fixed double chain. Nodes in ``attrs`` with
    no edges still enter n and the moments (isolates dilute I — the
    standard convention). Edges to nodes missing from ``attrs`` are
    dropped (inner joins), n < 4 or a constant attribute → NULL.

    Scale shape: two attr joins onto the edge list (node-keyed),
    degree aggregations, single-row reductions — nothing quadratic.
    """
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    a = attrs.where(
        F.col(node_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(node_col).alias("_n"),
        F.floor(F.col(value_col).cast("double") * F.lit(quantum))
        .cast("bigint")
        .alias("_x"),
    )
    tot = a.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("_x").cast("decimal(38,0)").alias("_S"),
    )
    az = a.crossJoin(F.broadcast(tot)).select(
        "_n",
        (
            F.col("_x").cast("double")
            - F.col("_S").cast("double") / F.col("n_nodes").cast("double")
        ).alias("_z"),
    )
    dec6 = "decimal(38,6)"
    zero6 = F.lit(0).cast(dec6)
    den_k = az.agg(
        F.coalesce(F.sum(F.round(F.col("_z") * F.col("_z"), 6).cast(dec6)), zero6)
        .cast("double")
        .alias("_den"),
        F.coalesce(
            F.sum(
                F.round(
                    F.col("_z") * F.col("_z") * F.col("_z") * F.col("_z"), 6
                ).cast(dec6)
            ),
            zero6,
        )
        .cast("double")
        .alias("_z4"),
    )
    ej = (
        e.join(az.select(F.col("_n").alias("_s"), F.col("_z").alias("_zi")), "_s")
        .join(az.select(F.col("_n").alias("_d"), F.col("_z").alias("_zj")), "_d")
    )
    num_w = ej.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.coalesce(
            F.sum(F.round(F.col("_zi") * F.col("_zj"), 6).cast(dec6)), zero6
        )
        .cast("double")
        .alias("_num"),
    )
    # S1 = ½ Σ (w_ij + w_ji)²: unordered pairs with both directions
    # contribute 2, single-direction pairs ½·1
    und = e.select(
        F.least("_s", "_d").alias("_a"), F.greatest("_s", "_d").alias("_b")
    ).groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_dirs"))
    s1 = und.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("_dirs") >= 2, F.lit(2.0)).otherwise(F.lit(0.5))
            ),
            F.lit(0.0),
        ).alias("_S1")
    )
    deg = (
        e.select(F.col("_s").alias("_n"))
        .unionByName(e.select(F.col("_d").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_t"))
    )
    s2 = deg.agg(
        F.coalesce(
            F.sum(F.col("_t") * F.col("_t")), F.lit(0).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("_S2")
    )
    j = (
        tot.crossJoin(F.broadcast(num_w))
        .crossJoin(F.broadcast(den_k))
        .crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
    )
    n = F.col("n_nodes").cast("double")
    w = F.col("n_edges").cast("double")
    ok = (F.col("n_nodes") >= 4) & (F.col("n_edges") > 0) & (F.col("_den") > 0)
    # ANSI-mode guard: conditions referencing these evaluate eagerly —
    # when()-NULL the divisors rather than trust short-circuiting
    den_ok = F.when(F.col("_den") > 0, F.col("_den"))
    i_val = (n / w) * (F.col("_num") / den_ok)
    e_i = F.lit(-1.0) / (n - 1.0)
    b2 = n * F.col("_z4") / F.when(
        F.col("_den") > 0, F.col("_den") * F.col("_den")
    )
    w2 = w * w
    var = (
        (
            n
            * (
                (n * n - 3.0 * n + 3.0) * F.col("_S1")
                - n * F.col("_S2")
                + 3.0 * w2
            )
            - b2
            * (
                (n * n - n) * F.col("_S1")
                - 2.0 * n * F.col("_S2")
                + 6.0 * w2
            )
        )
        / ((n - 1.0) * (n - 2.0) * (n - 3.0) * w2)
        - e_i * e_i
    )
    z = F.when(ok & (var > 0), (i_val - e_i) / F.sqrt(var))
    sig = F.abs(z) * 1000 > F.lit(float(z_crit_milli))
    from xmlschemavalidator_spark.checks.stats import _p_two_sided

    return j.select(
        "n_nodes",
        "n_edges",
        F.round(F.when(ok, i_val), round_to).alias("i"),
        F.round(F.when(ok, e_i), round_to).alias("expected_i"),
        F.round(z, round_to).alias("z"),
        F.round(F.when(z.isNotNull(), _p_two_sided(F.abs(z))), round_to).alias(
            "p"
        ),
        F.when(~F.coalesce(sig, F.lit(False)), F.lit("none"))
        .when(i_val > e_i, F.lit("clustered"))
        .otherwise(F.lit("dispersed"))
        .alias("pattern"),
    )


def morans_i_oracle_sql(
    edges_sql: str,
    attrs_sql: str,
    quantum: int = 1_000_000,
    z_crit_milli: int = 1960,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`morans_i`; ``edges_sql`` yields
    (src, dst), ``attrs_sql`` yields (node, val)."""
    from xmlschemavalidator_spark.checks.stats import _p_two_sided_sql

    i_val = "((nn / w) * (num / den))"
    e_i = "(-1.0 / (nn - 1.0))"
    b2 = "(nn * z4 / (den * den))"
    var = (
        f"((nn * ((nn * nn - 3.0 * nn + 3.0) * S1v - nn * S2v + 3.0 * w * w)"
        f" - {b2} * ((nn * nn - nn) * S1v - 2.0 * nn * S2v + 6.0 * w * w))"
        f" / ((nn - 1.0) * (nn - 2.0) * (nn - 3.0) * w * w)"
        f" - {e_i} * {e_i})"
    )
    okc = "n_nodes >= 4 AND n_edges > 0 AND den > 0"
    z = f"(CASE WHEN {okc} AND {var} > 0 THEN ({i_val} - {e_i}) / sqrt({var}) END)"
    return f"""WITH e AS (SELECT DISTINCT src AS s, dst AS d FROM ({edges_sql})
    WHERE src IS NOT NULL AND dst IS NOT NULL),
a AS (SELECT node AS n,
        CAST(floor(CAST(val AS DOUBLE) * {quantum}) AS BIGINT) AS x
      FROM ({attrs_sql}) WHERE node IS NOT NULL AND val IS NOT NULL),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(coalesce(sum(x), 0) AS DECIMAL(38,0)) AS S FROM a),
az AS (SELECT a.n,
        CAST(a.x AS DOUBLE) - CAST(tot.S AS DOUBLE)
          / CAST(tot.n_nodes AS DOUBLE) AS z
      FROM a, tot),
denk AS (SELECT
    CAST(coalesce(sum(CAST(round(z * z, 6) AS DECIMAL(38,6))), 0) AS DOUBLE)
        AS den,
    CAST(coalesce(sum(CAST(round(z * z * z * z, 6) AS DECIMAL(38,6))), 0)
        AS DOUBLE) AS z4
  FROM az),
numw AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
    CAST(coalesce(sum(CAST(round(zi.z * zj.z, 6) AS DECIMAL(38,6))), 0)
        AS DOUBLE) AS num
  FROM e JOIN az zi ON e.s = zi.n JOIN az zj ON e.d = zj.n),
und AS (SELECT least(s, d) AS a1, greatest(s, d) AS b1, count(*) AS dirs
        FROM e GROUP BY 1, 2),
s1 AS (SELECT coalesce(sum(CASE WHEN dirs >= 2 THEN 2.0 ELSE 0.5 END), 0.0)
         AS S1v FROM und),
s2 AS (SELECT CAST(coalesce(sum(CAST(t AS DECIMAL(38,0))
         * CAST(t AS DECIMAL(38,0))), 0) AS DOUBLE) AS S2v
  FROM (SELECT n, count(*) AS t FROM (
        SELECT s AS n FROM e UNION ALL SELECT d FROM e) GROUP BY n)),
j AS (SELECT tot.n_nodes, numw.n_edges, numw.num, denk.den, denk.z4,
        s1.S1v, s2.S2v, CAST(tot.n_nodes AS DOUBLE) AS nn,
        CAST(numw.n_edges AS DOUBLE) AS w
      FROM tot, numw, denk, s1, s2)
SELECT n_nodes, n_edges,
  round(CASE WHEN {okc} THEN {i_val} END, {round_to}) AS i,
  round(CASE WHEN {okc} THEN {e_i} END, {round_to}) AS expected_i,
  round({z}, {round_to}) AS z,
  round(CASE WHEN {z} IS NOT NULL THEN {_p_two_sided_sql(f'abs({z})')} END,
      {round_to}) AS p,
  CASE WHEN NOT coalesce(abs({z}) * 1000 > {z_crit_milli}, FALSE)
       THEN 'none'
       WHEN {i_val} > {e_i} THEN 'clustered' ELSE 'dispersed' END AS pattern
FROM j"""


def gearys_c(
    edges: DataFrame,
    attrs: DataFrame,
    value_col: str,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    quantum: int = 1_000_000,
    z_crit_milli: int = 1960,
    round_to: int = 6,
) -> DataFrame:
    """Geary's C (Geary 1954; Cliff & Ord 1981 randomization inference)
    — Moran's LOCAL-DIFFERENCE sibling over the link graph: Moran's I
    is a global cross-product (one far-flung hub pair can dominate),
    C = (n−1)·Σ_E (x_i−x_j)² / (2W·Σz²) reads squared differences
    ALONG EDGES, so it catches local heterogeneity I smooths over
    (C < 1 clustered, C > 1 dispersed, E[C] = 1). ONE row ``(n_nodes,
    n_edges, c, z, p, pattern)``; run both — they disagree exactly
    when the structure is local.

    Exactness: the entire statistic is EXACT INTEGERS to one division
    — per-edge (x_i−x_j)² on micro ints and the variance denominator
    via the identity n·Σz² = n·Σx² − S², both DECIMAL(38,0):
    C = (n−1)·n·Σd² / (2W·(n·Σx²−S²)). Only the Cliff–Ord
    randomization variance touches floats (kurtosis b2 via 6dp-round-
    then-DECIMAL z⁴ sums, then a fixed double chain). Same design
    notes as :func:`morans_i`: directed edge list as given, inner-join
    attr semantics, n < 4 / constant → NULL.
    """
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    a = attrs.where(
        F.col(node_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(node_col).alias("_n"),
        F.floor(F.col(value_col).cast("double") * F.lit(quantum))
        .cast("bigint")
        .alias("_x"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    tot = a.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.coalesce(F.sum("_x").cast("decimal(38,0)"), zero).alias("_S"),
        F.coalesce(
            F.sum(
                F.col("_x").cast("decimal(38,0)")
                * F.col("_x").cast("decimal(38,0)")
            ),
            zero,
        ).alias("_X2"),
    )
    ej = (
        e.join(a.select(F.col("_n").alias("_s"), F.col("_x").alias("_xi")), "_s")
        .join(a.select(F.col("_n").alias("_d"), F.col("_x").alias("_xj")), "_d")
    )
    dsum = ej.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.coalesce(
            F.sum(
                (F.col("_xi") - F.col("_xj")).cast("decimal(38,0)")
                * (F.col("_xi") - F.col("_xj")).cast("decimal(38,0)")
            ),
            zero,
        ).alias("_D2"),
    )
    az = a.crossJoin(F.broadcast(tot.select("n_nodes", "_S"))).select(
        (
            F.col("_x").cast("double")
            - F.col("_S").cast("double") / F.col("n_nodes").cast("double")
        ).alias("_z")
    )
    dec6 = "decimal(38,6)"
    zero6 = F.lit(0).cast(dec6)
    kurt = az.agg(
        F.coalesce(
            F.sum(
                F.round(
                    F.col("_z") * F.col("_z") * F.col("_z") * F.col("_z"), 6
                ).cast(dec6)
            ),
            zero6,
        )
        .cast("double")
        .alias("_z4"),
    )
    und = e.select(
        F.least("_s", "_d").alias("_a"), F.greatest("_s", "_d").alias("_b")
    ).groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_dirs"))
    s1 = und.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("_dirs") >= 2, F.lit(2.0)).otherwise(F.lit(0.5))
            ),
            F.lit(0.0),
        ).alias("_S1")
    )
    deg = (
        e.select(F.col("_s").alias("_n"))
        .unionByName(e.select(F.col("_d").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_t"))
    )
    s2 = deg.agg(
        F.coalesce(
            F.sum(F.col("_t") * F.col("_t")), F.lit(0).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("_S2")
    )
    j = (
        tot.crossJoin(F.broadcast(dsum))
        .crossJoin(F.broadcast(kurt))
        .crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
    )
    n = F.col("n_nodes").cast("double")
    w = F.col("n_edges").cast("double")
    nz2_dec = (
        F.col("n_nodes").cast("decimal(38,0)") * F.col("_X2")
        - F.col("_S") * F.col("_S")
    )  # n·Σz² exactly
    ok = (F.col("n_nodes") >= 4) & (F.col("n_edges") > 0) & (nz2_dec > 0)
    # ANSI mode: conditions referencing these evaluate EAGERLY, so every
    # divisor is when()-guarded to NULL rather than relied on short-
    # circuiting (div-by-zero raises otherwise)
    c_den = F.lit(2.0) * w * nz2_dec.cast("double")
    c_val = (
        ((F.col("n_nodes") - 1).cast("decimal(38,0)")
         * F.col("n_nodes").cast("decimal(38,0)")
         * F.col("_D2")).cast("double")
        / F.when(c_den > 0, c_den)
    )
    sz2 = nz2_dec.cast("double") / n  # Σz² as double for b2
    b2 = n * F.col("_z4") / F.when(sz2 > 0, sz2 * sz2)
    w2 = w * w
    n2 = n * n
    var = (
        (n - 1.0)
        * F.col("_S1")
        * (n2 - 3.0 * n + 3.0 - (n - 1.0) * b2)
        - 0.25
        * (n - 1.0)
        * F.col("_S2")
        * (n2 + 3.0 * n - 6.0 - (n2 - n + 2.0) * b2)
        + w2 * (n2 - 3.0 - (n - 1.0) * (n - 1.0) * b2)
    ) / (n * (n - 2.0) * (n - 3.0) * w2)
    z = F.when(ok & (var > 0), (c_val - 1.0) / F.sqrt(var))
    sig = F.abs(z) * 1000 > F.lit(float(z_crit_milli))
    from xmlschemavalidator_spark.checks.stats import _p_two_sided

    return j.select(
        "n_nodes",
        "n_edges",
        F.round(F.when(ok, c_val), round_to).alias("c"),
        F.round(z, round_to).alias("z"),
        F.round(F.when(z.isNotNull(), _p_two_sided(F.abs(z))), round_to).alias(
            "p"
        ),
        F.when(~F.coalesce(sig, F.lit(False)), F.lit("none"))
        .when(c_val < 1.0, F.lit("clustered"))
        .otherwise(F.lit("dispersed"))
        .alias("pattern"),
    )


def gearys_c_oracle_sql(
    edges_sql: str,
    attrs_sql: str,
    quantum: int = 1_000_000,
    z_crit_milli: int = 1960,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`gearys_c` — same exact-integer C, same
    Cliff–Ord randomization chain."""
    from xmlschemavalidator_spark.checks.stats import _p_two_sided_sql

    c_val = (
        "(CAST((nn_dec - 1) * nn_dec * D2 AS DOUBLE)"
        " / (2.0 * w * CAST(nz2 AS DOUBLE)))"
    )
    sz2 = "(CAST(nz2 AS DOUBLE) / nn)"
    b2 = f"(nn * z4 / ({sz2} * {sz2}))"
    var = (
        f"(((nn - 1.0) * S1v * (nn * nn - 3.0 * nn + 3.0 - (nn - 1.0) * {b2})"
        f" - 0.25 * (nn - 1.0) * S2v"
        f" * (nn * nn + 3.0 * nn - 6.0 - (nn * nn - nn + 2.0) * {b2})"
        f" + w * w * (nn * nn - 3.0 - (nn - 1.0) * (nn - 1.0) * {b2}))"
        f" / (nn * (nn - 2.0) * (nn - 3.0) * w * w))"
    )
    okc = "n_nodes >= 4 AND n_edges > 0 AND nz2 > 0"
    z = f"(CASE WHEN {okc} AND {var} > 0 THEN ({c_val} - 1.0) / sqrt({var}) END)"
    return f"""WITH e AS (SELECT DISTINCT src AS s, dst AS d FROM ({edges_sql})
    WHERE src IS NOT NULL AND dst IS NOT NULL),
a AS (SELECT node AS n,
        CAST(floor(CAST(val AS DOUBLE) * {quantum}) AS BIGINT) AS x
      FROM ({attrs_sql}) WHERE node IS NOT NULL AND val IS NOT NULL),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
    CAST(coalesce(sum(x), 0) AS DECIMAL(38,0)) AS S,
    CAST(coalesce(sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))),
        0) AS DECIMAL(38,0)) AS X2
  FROM a),
dsum AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
    CAST(coalesce(sum(CAST(zi.x - zj.x AS DECIMAL(38,0))
        * CAST(zi.x - zj.x AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS D2
  FROM e JOIN a zi ON e.s = zi.n JOIN a zj ON e.d = zj.n),
kurt AS (SELECT CAST(coalesce(sum(CAST(round(z * z * z * z, 6)
        AS DECIMAL(38,6))), 0) AS DOUBLE) AS z4
  FROM (SELECT CAST(a.x AS DOUBLE) - CAST(tot.S AS DOUBLE)
          / CAST(tot.n_nodes AS DOUBLE) AS z FROM a, tot)),
und AS (SELECT least(s, d) AS a1, greatest(s, d) AS b1, count(*) AS dirs
        FROM e GROUP BY 1, 2),
s1 AS (SELECT coalesce(sum(CASE WHEN dirs >= 2 THEN 2.0 ELSE 0.5 END), 0.0)
         AS S1v FROM und),
s2 AS (SELECT CAST(coalesce(sum(CAST(t AS DECIMAL(38,0))
         * CAST(t AS DECIMAL(38,0))), 0) AS DOUBLE) AS S2v
  FROM (SELECT n, count(*) AS t FROM (
        SELECT s AS n FROM e UNION ALL SELECT d FROM e) GROUP BY n)),
j AS (SELECT tot.n_nodes, dsum.n_edges, dsum.D2, kurt.z4, s1.S1v, s2.S2v,
        CAST(tot.n_nodes AS DOUBLE) AS nn,
        CAST(tot.n_nodes AS DECIMAL(38,0)) AS nn_dec,
        CAST(dsum.n_edges AS DOUBLE) AS w,
        CAST(tot.n_nodes AS DECIMAL(38,0)) * tot.X2 - tot.S * tot.S AS nz2
      FROM tot, dsum, kurt, s1, s2)
SELECT n_nodes, n_edges,
  round(CASE WHEN {okc} THEN {c_val} END, {round_to}) AS c,
  round({z}, {round_to}) AS z,
  round(CASE WHEN {z} IS NOT NULL THEN {_p_two_sided_sql(f'abs({z})')} END,
      {round_to}) AS p,
  CASE WHEN NOT coalesce(abs({z}) * 1000 > {z_crit_milli}, FALSE)
       THEN 'none'
       WHEN {c_val} < 1.0 THEN 'clustered' ELSE 'dispersed' END AS pattern
FROM j"""
