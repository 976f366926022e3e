"""DuckDB oracle results for the benchmark's check pass, in a process of
their own, so DuckDB's library and buffers never count in the measured
driver's memory.

    python3 perfbench/oracles.py --corpus DIR --out DIR NAME [NAME ...]

For every named query with an oracle, runs its SQL on
``verify.duckdb_connection(corpus)`` and writes the result frame to
``<out>/<NAME>.pkl``.  The last stdout line is the JSON list of the
names written; an oracle that raises is left out, so the check of its
query fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("names", nargs="+")
    a = ap.parse_args()
    sys.path.insert(0, ROOT)
    from firebase_realtime_database_backup_spark import verify
    from firebase_realtime_database_backup_spark.registry import build_registry

    oracles = build_registry().oracles
    os.makedirs(a.out, exist_ok=True)
    con = verify.duckdb_connection(a.corpus)
    written = []
    for name in a.names:
        if name not in oracles:
            continue
        try:
            frame = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001 — the check of this query fails
            print(f"oracle {name} failed: {exc!r}", file=sys.stderr)
            continue
        frame.to_pickle(os.path.join(a.out, f"{name}.pkl"))
        written.append(name)
    con.close()
    print(json.dumps(written))


if __name__ == "__main__":
    main()
