"""Write golden.json: the output digest of every query the suite runs.

    python3 perfbench/make_golden.py

For each vendored scale the queries are first checked against their DuckDB
oracles by the repository's bit-strict gate (tools/check_oracles.py, run
as is on just these queries); a query without an oracle is recorded as
rows-only. The digests are then computed twice with the suite's own
``digest`` and must agree before they are written.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import inputs
import suite


def main() -> int:
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [inputs.ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, inputs.ROOT)
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(inputs.ROOT, "tools", "check_oracles.py")
    )
    oracles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracles)
    import __spark_entry__ as entry
    from maga_spark.session import get_spark

    names = sorted([*suite.SUBSET, *suite.WARMUP])
    golden: dict = {"rows_only": sorted(set(names) - set(entry.oracle_sql()))}
    for sf_dir in inputs.SF_DIRS.values():
        sys.argv = ["check_oracles", sf_dir, *names]
        try:
            oracles.main()
        except SystemExit as e:
            if e.code:
                print(f"make_golden: oracle check failed at {sf_dir}", file=sys.stderr)
                return 1
        spark = get_spark(app_name="perfbench_golden", master="local[4]")
        qs = entry.queries()
        runs = [{n: suite.digest(qs[n](spark, sf_dir))[0] for n in names} for _ in range(2)]
        spark.stop()
        if runs[0] != runs[1]:
            diff = sorted(n for n in names if runs[0][n] != runs[1][n])
            print(f"make_golden: digests not repeatable at {sf_dir}: {diff}", file=sys.stderr)
            return 1
        golden[os.path.basename(sf_dir)] = runs[0]
    with open(suite.GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
