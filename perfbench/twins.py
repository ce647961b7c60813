"""Frozen registry query list and the digests that pin its results.

Each frozen query's output is pinned by its ``oracle_sql()`` twin, run
through DuckDB over ``perfbench/data/documents.parquet`` and normalised
with ``scripts/check_correctness.py``'s ``norm_rows``.  The digests are
computed once and stored in ``twins.json`` with the sha256 of the SQL
text and of the data file they came from; a digest whose SQL or data has
changed since is never trusted, and the query fails its check until the
file is recomputed.

``corpus_curation_v3`` is the exception: its DuckDB twin ran out of
memory (12.5 GiB) after 17 minutes on this 500-row table, so its digest
is the Spark result recorded when the list was frozen, a golden that
pins the output across later changes rather than an independent oracle.

Recompute every digest (from the repo root; starts a local Spark session
for the golden):

    python3 perfbench/twins.py
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DOCS_DIR = os.path.join(HERE, "data")
DOCS_PATH = os.path.join(DOCS_DIR, "documents.parquet")
TWINS_PATH = os.path.join(HERE, "twins.json")

# Version 1 of the frozen list.  Never edited: a later change may alter
# what runs behind a name, not the names, and new queries never join it.
FROZEN_VERSION = 1
FROZEN_QUERIES = (
    "corpus_curation_v3",     # operators.dsir + packing, staged writes
    "near_dup_survivors",     # operators.dedup components
    "exact_substring_dedup",  # operators.dedup + links
    "ccnet_ppl_buckets",      # operators.textagg
    "gate_distill_weights",   # operators.distill driver loop
    "kn_doc_surprisal",       # operators.textagg
    "simhash_near_dup",       # operators.dedup + similarity + windows
    "bpe_train_merges",       # operators.textagg, K driver rounds
    "host_pagerank",          # operators.graph iterations
)
GOLDEN = ("corpus_curation_v3",)


@functools.cache
def _check_correctness():
    """The repo's own correctness script, loaded for its normaliser."""
    path = os.path.join(ROOT, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(cols: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive digest of one result, as the registry's
    correctness check compares it: sorted column names, row count and
    the hash of the normalised rows."""
    normed = _check_correctness().norm_rows(cols, rows)
    h = hashlib.sha256(json.dumps(normed).encode()).hexdigest()
    return {"cols": sorted(cols), "rows": len(rows), "sha256": h}


def _sha256(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _data_sha() -> str:
    with open(DOCS_PATH, "rb") as f:
        return _sha256(f.read())


def _twin_digest(sql: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{DOCS_PATH}'")
        rel = con.sql(sql)
        cols = [d[0] for d in rel.description]
        return digest(cols, rel.fetchall())
    finally:
        con.close()


def expected(oracle_sql: dict[str, str]) -> dict[str, dict | None]:
    """Stored digest of every frozen query, or None where the data file
    or (for a DuckDB twin) the SQL text changed since ``twins.json`` was
    written."""
    with open(TWINS_PATH, encoding="utf-8") as f:
        stored = json.load(f)["twins"]
    data_sha = _data_sha()
    out = {}
    for name in FROZEN_QUERIES:
        rec = stored.get(name)
        fresh = rec is not None and rec["data_sha256"] == data_sha and (
            rec["source"] == "spark_golden"
            or rec["sql_sha256"] == _sha256(oracle_sql[name].encode()))
        out[name] = rec if fresh else None
    return out


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import __spark_entry__ as E
    from quality_filter.session import get_spark

    oracle, queries = E.oracle_sql(), E.queries()
    data_sha = _data_sha()
    twins = {}
    spark = get_spark(app_name="perfbench-twins")
    try:
        for name in FROZEN_QUERIES:
            if name in GOLDEN:
                df = queries[name](spark, DOCS_DIR)
                rec = {**digest(df.columns, [tuple(r) for r in df.collect()]),
                       "source": "spark_golden"}
            else:
                sql = oracle[name]
                rec = {**_twin_digest(sql), "source": "duckdb_twin",
                       "sql_sha256": _sha256(sql.encode())}
            twins[name] = {**rec, "data_sha256": data_sha}
            print(name, rec["source"], rec["rows"], flush=True)
    finally:
        spark.stop()
    with open(TWINS_PATH, "w", encoding="utf-8") as f:
        json.dump({"frozen_version": FROZEN_VERSION, "twins": twins}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
