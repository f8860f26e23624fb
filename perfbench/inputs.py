"""Seeded inputs: transcript parquet, rule configs and documents.

Everything here is a pure function of the seed, so the same seed gives
byte-identical files. The program under test only ever sees the files
written here.
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ctlp_spark import gen

# The fixture rules of ``gen.DEFAULT_RULES_YAML``, pinned here so that a
# change to the package's defaults cannot change a workload.
FIXTURE_ROW_RULES = [
    {"name": "drop-tool-search", "matches": [
        {"field_name": "role", "regex": "^tool$"},
        {"field_name": "tool", "regex": "^(search|browser)$"}]},
    {"name": "drop-timeouts", "matches": [
        {"field_name": "text", "regex": "ERROR: timeout"}]},
    {"name": "drop-system-boilerplate", "matches": [
        {"field_name": "role", "regex": "^system$"},
        {"field_name": "text", "regex": "^You are"}]},
]
JSON_ACTION_RULE = {"name": "drop-json-action", "matches": [
    {"field_name": "text_json.action", "regex": "^search$"}]}


def _write_table(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        paths.append(path)
    return paths


def transcripts_table(n_rows: int, seed: int) -> pa.Table:
    pdf = gen.gen_transcripts(n_rows, seed=seed, skew=True)
    return pa.Table.from_pandas(pdf, schema=gen.ARROW_SCHEMA, preserve_index=False)


def write_transcripts(out_dir: str, n_rows: int, seed: int, n_files: int) -> list[str]:
    """Skewed transcripts split over ``n_files`` parquet files."""
    return _write_table(transcripts_table(n_rows, seed), out_dir, n_files)


def fixture_rules() -> dict:
    """The four fixture rules, including the ``text_json.action`` dot-path."""
    return {"version": "1.0.0", "meta": {"description": "fixture rules"},
            "rules": [*FIXTURE_ROW_RULES, JSON_ACTION_RULE]}


def scan_rules(seed: int) -> dict:
    """64 rules: 48 literal-shaped rules that rarely match, 12 true-regex
    AND rules, one JSON dot-path rule and the 3 row-level fixture rules,
    last, so most rows are tested against every rule before one fires."""
    rng = np.random.default_rng(seed)
    rules = []
    for i in range(48):
        kind = i % 4
        if kind == 0:  # one exact timeout value: ~1/30000 of timeout rows
            ms = int(rng.integers(10, 30000))
            m = [{"field_name": "text", "regex": f"timeout after {ms}ms"}]
        elif kind == 1:  # a word no template emits
            word = "".join(rng.choice(list("bcdfghjkmnpqrstvwxz"), size=7))
            m = [{"field_name": "text", "regex": word}]
        elif kind == 2:  # an anchored template prefix no topic completes
            role = str(rng.choice(gen.ROLES))
            topic = str(rng.choice(gen.TOPICS))
            m = [{"field_name": "role", "regex": f"^{role}$"},
                 {"field_name": "text", "regex": f"^let us discuss {topic} nexus"}]
        else:  # a tool call whose text never ends with the tool name
            tool = str(rng.choice(gen.TOOLS))
            m = [{"field_name": "tool", "regex": f"^{tool}$"},
                 {"field_name": "text", "regex": f"for {tool}$"}]
        rules.append({"name": f"lit-{i:02d}", "matches": m})
    for i in range(12):
        if i % 2:
            digit = int(rng.integers(1, 10))
            m = [{"field_name": "role", "regex": "^(user|assistant|tool)$"},
                 {"field_name": "text", "regex": f"after [0-9]*{digit}[0-9]{{4}}ms$"}]
        else:
            topic = str(rng.choice(gen.TOPICS))
            m = [{"field_name": "role", "regex": "^(user|assistant)$"},
                 {"field_name": "text",
                  "regex": f"(summary|discuss) (of )?{topic[:3]}[a-z]+ ?(next)?$"}]
        rules.append({"name": f"re-{i:02d}", "matches": m})
    rules.append({"name": "json-action-exec", "matches": [
        {"field_name": "text_json.action", "regex": "^(python|bash)$"}]})
    rules.extend(FIXTURE_ROW_RULES)
    return {"version": "1.0.0", "meta": {"description": f"scan rules seed {seed}"},
            "rules": rules}


def write_rules(path: str, obj: dict) -> str:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1)
    return path


def _gen_documents():
    """``scripts/gen_sfdir.gen_documents`` (scripts/ is not a package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(gen.__file__)))
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from gen_sfdir import gen_documents

    return gen_documents


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """Word-soup documents with gen_sfdir's 5% near-dup tail plus a 3%
    exact-dup tail (an earlier doc re-cased and re-spaced), so the exact
    dedup check has duplicates to find."""
    pdf = _gen_documents()(n_docs, seed)
    rng = np.random.default_rng(seed + 1)
    texts = pdf["text"].tolist()
    for i in rng.choice(np.arange(1, n_docs), size=n_docs * 3 // 100, replace=False):
        src = texts[int(rng.integers(0, i))]
        texts[int(i)] = "  " + src.upper().replace(" ", "   ") + " "
    pdf["text"] = texts
    pdf["n_chars"] = np.array([len(t) for t in texts], dtype=np.int64)
    return pa.Table.from_pandas(pdf, preserve_index=False)


def write_documents(out_dir: str, n_docs: int, seed: int, n_files: int) -> pa.Table:
    """Writes :func:`documents_table` over ``n_files`` files; returns it."""
    table = documents_table(n_docs, seed)
    _write_table(table, out_dir, n_files)
    return table


def exact_dup_count(texts: list) -> int:
    """Independent recount of exact duplicates under the fingerprint's
    normalization (lower-case, whitespace runs collapsed, trimmed)."""
    seen: set = set()
    dups = 0
    for t in texts:
        if t is None:
            continue
        key = re.sub(r"\s+", " ", t.lower()).strip()
        if key in seen:
            dups += 1
        else:
            seen.add(key)
    return dups
