#!/usr/bin/env python3
"""Recompute ``perfbench/oracle.json``: the DuckDB oracle of every mix
query on the mixes' tables (row count and a digest of the normalized
rows), keyed by the table bytes and each query's oracle SQL.

    python3 perfbench/make_oracle.py

Run it when ``perfbench/testdata`` or a mix query's oracle SQL changes;
until then the benchmark computes the changed entries live.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import mix  # noqa: E402


def main() -> int:
    names = [n for mix_names in mix.MIXES.values() for n in mix_names]
    out = {
        "data": mix.data_digest(mix.DATA_DIR),
        "queries": mix.duckdb_oracle(mix.DATA_DIR, names),
    }
    with open(mix.ORACLE_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
