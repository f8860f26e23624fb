"""Golden counts from an evaluator independent of ctlp_spark: DuckDB.

DuckDB's regexp_matches is RE2, the Go reference's own engine, with the
same unanchored-search semantics. A rule config becomes one
``CASE WHEN ... END`` (first match wins; a NULL condition falls through,
which is missing-field-keeps) grouped over the parquet input.
"""

from __future__ import annotations

import os

import duckdb


def _field_sql(field: str, json_columns: dict[str, str]) -> str:
    head, _, rest = field.partition(".")
    if rest:
        src = json_columns[head]
        # get_json_object yields NULL for text that is not a JSON object
        return (f"CASE WHEN json_valid({src}) AND starts_with(ltrim({src}), '{{') "
                f"THEN json_extract_string({src}, '$.{rest}') END")
    return field


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def rule_case_sql(rules_obj: dict, json_columns: dict[str, str]) -> str:
    whens = []
    for rule in rules_obj["rules"]:
        conds = [
            f"regexp_matches({_field_sql(m['field_name'], json_columns)}, "
            f"{_quote(m['regex'])})"
            for m in rule["matches"]
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN {_quote(rule['name'])}")
    return "CASE " + " ".join(whens) + " END"


def golden_counts(
    parquet_dir: str, rules_obj: dict, json_columns: dict[str, str]
) -> dict:
    """{"total", "kept", "dropped", "rule_hits"} over every parquet file in
    ``parquet_dir``."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={os.cpu_count() or 1}")
        con.execute("SET memory_limit='1GB'")
        glob = os.path.join(parquet_dir, "*.parquet")
        rows = con.execute(
            f"SELECT {rule_case_sql(rules_obj, json_columns)} AS m, count(*) "
            f"FROM read_parquet({_quote(glob)}) GROUP BY m"
        ).fetchall()
    finally:
        con.close()
    hits = {m: int(n) for m, n in rows if m is not None}
    kept = sum(int(n) for m, n in rows if m is None)
    dropped = sum(hits.values())
    return {"total": kept + dropped, "kept": kept, "dropped": dropped,
            "rule_hits": hits}
