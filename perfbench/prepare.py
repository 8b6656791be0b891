"""Input generation and oracle answers, run by ``run.py`` as child
processes so that the generators' and DuckDB's memory stays out of the
benchmark process's peak RSS.

    python3 perfbench/prepare.py generate <workload> <data_dir> <seed>
    python3 perfbench/prepare.py oracles <workload> <data_dir> <out.pkl>

``generate`` writes the workload's parquet files into ``data_dir`` and
prints what the generator returns (curation's planted duplicates) as one
JSON line. ``oracles`` answers every key the workload can ask with DuckDB
over those files and pickles the answers, keyed as the requests are, to
``out.pkl``.
"""

from __future__ import annotations

import json
import pickle
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def oracles(workload, data_dir: str) -> dict:
    from hashquery_spark.parity import duck_connection

    con = duck_connection(data_dir)
    try:
        con.execute(f"SET temp_directory='{data_dir}/duckdb_spill'")
        return {key: workload.oracle(con, key) for key in workload.oracle_keys()}
    finally:
        con.close()


def main(argv: list[str]) -> int:
    mode, name, data_dir, arg = argv
    if mode == "generate":
        from datagen import generate

        print(json.dumps(generate(name, data_dir, int(arg))))
    elif mode == "oracles":
        from workload import make_workload

        with open(arg, "wb") as f:
            pickle.dump(oracles(make_workload(name, clients=1), data_dir), f)
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
