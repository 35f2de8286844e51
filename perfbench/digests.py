"""Canonical-row digests for the query_mix correctness check.

The expected digests come from the DuckDB oracle (``ORACLE[name]``) over
the fixed query_mix tables, canonicalized exactly like
``tools/check_oracle.canonical_rows``. They are committed in
``query_mix_digests.json``; regenerate them with

    python3 perfbench/digests.py

from the root of the repository (about ten seconds: DuckDB only).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS_PATH = os.path.join(HERE, "query_mix_digests.json")
#: the fixed query_mix scale: 60,000 lineitem rows
QUERY_MIX_SCALE = 0.01


def _import_root() -> None:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


#: the query_mix rows: at least one per operator family, chosen from
#: warm per-row times at QUERY_MIX_SCALE on a 4-core host (CHANGES.md).
#: A warm-up pass and two timed passes of all 26 bench.py rows take about
#: two minutes there, more than one run of the benchmark's time budget
#: holds; these eight are 45% of a warm 26-row pass.
QUERY_MIX = [
    "q01_pricing_summary",      # scan and aggregate (TPC-H Q1)
    "q05_local_supplier",       # six-table join
    "q_asof_purchase",          # as-of join and windows
    "q_minhash_lsh",            # text dedup: MinHash LSH
    "q_fingerprint_winnowing",  # text dedup and contamination; heaviest row
    "q_shard_packing",          # Spark jobs launched during build
    "q_pq_topk",                # vector search: IVF-PQ top-k
    "q_semantic_dedup",         # vector dedup and decontamination
]


def digest(pdf) -> str:
    """sha256 over the canonical rows of a pandas frame: columns sorted
    by name, values canonicalized, rows sorted."""
    _import_root()
    from tools.check_oracle import canonical_rows

    h = hashlib.sha256()
    h.update(repr(sorted(pdf.columns)).encode())
    for row in canonical_rows(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()


def load_expected() -> dict[str, dict]:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def oracle_digests(data_dir: str, names: list[str]) -> dict[str, dict]:
    import duckdb

    _import_root()
    from pydala_spark.queries import ORACLE
    from tools.check_oracle import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        pdf = con.sql(ORACLE[name]).df()
        out[name] = {"rows": len(pdf), "sha256": digest(pdf)}
    return out


def main() -> int:
    import gen

    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench-digests-") as d:
        gen.write_tables(gen.star_tables(gen.QUERY_MIX_DATA_SEED,
                                         QUERY_MIX_SCALE), d)
        out = oracle_digests(d, QUERY_MIX)
    with open(DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} digests to {DIGESTS_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
