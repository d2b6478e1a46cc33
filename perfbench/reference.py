"""Independent reference results, computed by DuckDB over the same parquet the
program reads.

The SQL here is written by hand from the rule declarations (the web ruleset
and the documents XSD). It deliberately does not use the package's
``compile_sql`` renderings, so a defect in the compiler cannot hide by being
reproduced in the reference.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb

HTML_PREFIX = "<html><head><title>p</title></head><body>"
HTML_SUFFIX = "</body></html>"

# rule_id -> DuckDB boolean that is TRUE when a pages row passes the rule.
PAGES_RULES = {
    "lang_enum": "coalesce(lang IN ('en', 'de', 'sv', 'fr', 'zh'), false)",
    "url_required": "url IS NOT NULL",
    "url_https": "coalesce(regexp_full_match(url, 'https://[^ ]+'), false)",
    "chars_range": "coalesce(length(text) BETWEEN 1 AND 1000000, false)",
    "ts_required": "warc_ts IS NOT NULL",
    # the page's html is exactly the fixed wrapper around its text
    "extract_invariant": (
        f"coalesce(decode(html) = '{HTML_PREFIX}' || coalesce(text, '') || '{HTML_SUFFIX}', false)"
    ),
}

# The documents XSD (see documents.xsd) over fields pulled out of the XML
# string with regular expressions; an absent element is NULL.
DOCS_FIELDS = {
    "text": "CASE WHEN strpos(xml, '<text>') > 0 THEN regexp_extract(xml, '<text>([^<]*)</text>', 1) END",
    "lang": "CASE WHEN strpos(xml, '<lang>') > 0 THEN regexp_extract(xml, '<lang>([^<]*)</lang>', 1) END",
    "n_chars": (
        "CASE WHEN strpos(xml, '<n_chars>') > 0 "
        "THEN regexp_extract(xml, '<n_chars>([^<]*)</n_chars>', 1) END"
    ),
    "source": (
        "CASE WHEN strpos(xml, ' source=\"') > 0 "
        "THEN regexp_extract(xml, ' source=\"([^\"]*)\"', 1) END"
    ),
}
DOCS_RULES = {
    "document__sequence": "text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL",
    "document__text": "text IS NOT NULL AND TRY_CAST(text AS DOUBLE) IS NULL",
    "document__lang": "coalesce(lang IN ('en', 'de', 'sv', 'fr', 'zh', 'es'), false)",
    "document__n_chars": "coalesce(TRY_CAST(n_chars AS BIGINT) BETWEEN 36 AND 4200, false)",
    "document__attr_source": "source IS NOT NULL AND TRY_CAST(source AS DOUBLE) IS NULL",
}


@dataclass(frozen=True)
class Reference:
    rows: int
    per_rule: dict[str, int]  # rule_id -> violation rows
    failed_rows: int  # rows failing at least one rule
    failed_keys: int  # distinct keys among those rows
    input_bytes: int

    @property
    def violation_rows(self) -> int:
        return sum(self.per_rule.values())


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 4")
    return con


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _reference(con, source_sql: str, key: str, rules: dict[str, str], path: str) -> Reference:
    passes = ", ".join(f"({expr}) AS \"{rid}\"" for rid, expr in rules.items())
    all_pass = " AND ".join(f"\"{rid}\"" for rid in rules)
    counts = ", ".join(
        f"CAST(count(*) FILTER (WHERE NOT \"{rid}\") AS BIGINT)" for rid in rules
    )
    row = con.execute(
        f"""WITH v AS (SELECT {key} AS k, {passes} FROM ({source_sql}))
            SELECT CAST(count(*) AS BIGINT),
                   CAST(count(*) FILTER (WHERE NOT ({all_pass})) AS BIGINT),
                   CAST(count(DISTINCT k) FILTER (WHERE NOT ({all_pass})) AS BIGINT),
                   {counts}
            FROM v"""
    ).fetchone()
    return Reference(
        rows=row[0],
        failed_rows=row[1],
        failed_keys=row[2],
        per_rule=dict(zip(rules, row[3:])),
        input_bytes=parquet_bytes(path),
    )


def pages_reference(con, path: str) -> Reference:
    return _reference(con, f"SELECT * FROM read_parquet('{path}/*.parquet')", "url", PAGES_RULES, path)


def documents_reference(con, path: str) -> Reference:
    fields = ", ".join(f"{expr} AS {name}" for name, expr in DOCS_FIELDS.items())
    source = f"SELECT doc_id, {fields} FROM read_parquet('{path}/*.parquet')"
    return _reference(con, source, "doc_id", DOCS_RULES, path)


def written_violations(con, path: str, rule_ids) -> tuple[dict[str, int], int]:
    """Per-rule counts and an order-independent checksum of the violation
    rows a resumable run wrote as hive-partitioned parquet."""
    rows = con.execute(
        f"""SELECT rule_id, CAST(count(*) AS BIGINT),
                   CAST(sum(hash(url, rule_id, observed_value) % 1000000007) AS BIGINT)
            FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true)
            GROUP BY rule_id"""
    ).fetchall()
    per_rule = dict.fromkeys(rule_ids, 0)
    checksum = 0
    for rid, n, h in rows:
        per_rule[rid] = n
        checksum += h
    return per_rule, checksum
