"""Rebuild pinned.json: each query_surface row's count and value hash
over the generated fixture. Rows with a DuckDB oracle are first checked
against it with oracle.compare_query; a mismatch aborts.

    python3 cdcbench/pin.py      # from the repository root
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def main() -> int:
    from timescale_cdc_spark.oracle import compare_query
    from timescale_cdc_spark.queries import ORACLES
    from timescale_cdc_spark.session import get_spark

    from cdcbench import gen
    from cdcbench.common import value_hash
    from cdcbench.metrics import SURFACE_ROWS
    from cdcbench.surface import PINNED, query_fn

    spark = get_spark(app_name="cdcbench-pin", extra_conf={"spark.driver.memory": "3g"})
    rows = {}
    with tempfile.TemporaryDirectory() as d:
        gen.write_fixture(d, gen.fixture_tables())
        for row in SURFACE_ROWS:
            oracle = "none"
            if row in ORACLES:
                res = compare_query(spark, row, d)
                if not res.ok:
                    print(f"{row}: oracle mismatch: {res.message}", file=sys.stderr)
                    return 1
                oracle = "match"
            n, h = value_hash(query_fn(row)(spark, d))
            rows[row] = {"rows": n, "hash": h, "oracle": oracle}
            print(row, rows[row], flush=True)
    spark.stop()
    with open(PINNED, "w") as f:
        json.dump({"fixture_seed": gen.FIXTURE_SEED, "rows": rows}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
