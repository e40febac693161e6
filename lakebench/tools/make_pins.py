#!/usr/bin/env python3
"""Produce the pinned result digests the benchmark checks registry
queries against.

Usage, from the repository root, after dumping the queries with
graft.Verify into OUT:
    python3 lakebench/tools/make_pins.py <sfDir> <OUT> [engine-pinned,...] \\
        > lakebench/pins.json

Each pin is the DuckDB oracle's answer under tools/check.py's hash rule
(pandas-materialised cells, columns sorted by name, rows sorted, SHA-256)
with its row count. The engine's result that Verify dumped is hashed the
same way and must agree, so a pin is only written for a query the engine
answers correctly at the parent commit.

Queries named in the optional third argument are pinned from the
engine's answer alone ("source": "engine"): their oracles compute a
transitive closure with a recursive CTE, which at sf0.1 outgrows a
16 GB machine. tools/check.py compares them with the oracle at sf0.01.
"""
import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "..", "tools"))
import check  # noqa: E402  (tools/check.py: the oracle hash rule)


def main(sf_dir, out_dir, engine_pinned):
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    pins = {}
    for name, sql in sorted(oracles.items()):
        t0 = time.time()
        got = pd.read_parquet(f"{out_dir}/{name}")
        _, got_h = check.table_hash(got)
        if name in engine_pinned:
            pins[name] = {"rows": len(got), "sha256": got_h, "source": "engine"}
            print(f"{name}: rows={len(got)} engine-pinned", file=sys.stderr)
            continue
        want = con.execute(sql).df()
        _, want_h = check.table_hash(want)
        print(f"{name}: rows={len(want)} oracle {time.time() - t0:.1f}s "
              f"{'agree' if want_h == got_h else 'DISAGREE'}",
              file=sys.stderr, flush=True)
        if want_h != got_h or len(want) != len(got):
            sys.exit(f"engine and oracle disagree on {name}")
        pins[name] = {"rows": len(want), "sha256": want_h, "source": "oracle"}
    json.dump(pins, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         set(sys.argv[3].split(",")) if len(sys.argv) > 3 else set())
