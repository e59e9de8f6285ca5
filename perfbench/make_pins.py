"""Write pins.json: input-file hashes and every workload key's output digest.

Each output digest comes from the key's DuckDB oracle over
``data/sf0.01``, under the program's default decimal-parity profile (the
profile environment flags cleared), so a run's Spark output is checked
against an independent engine. Run from the repository root:

    python3 perfbench/make_pins.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

from digest import digest
from run import DATA, HERE, PROFILE_ENVS, ROOT
from workloads import WORKLOADS

PINS = HERE / "pins.json"


def data_hashes() -> dict[str, str]:
    return {
        p.name: hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(DATA.glob("*.parquet"))
    }


def main() -> int:
    for env in PROFILE_ENVS:
        os.environ.pop(env, None)
    sys.path.insert(0, str(ROOT))
    import duckdb

    from gentropy_spark.plans import full_registry

    registry = full_registry()
    con = duckdb.connect()
    for p in sorted(DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    outputs = {}
    for key in sorted({k for w in WORKLOADS.values() for k in w.keys}):
        res = con.execute(registry[key].oracle)
        outputs[key] = digest([d[0] for d in res.description], res.fetchall())
        print(key, outputs[key]["rows"], outputs[key]["sha256"][:12])
    con.close()
    PINS.write_text(
        json.dumps({"data": data_hashes(), "outputs": outputs}, indent=1, sort_keys=True)
        + "\n"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
