"""Record the output digests the benchmark checks every run against.

    python3 perfbench/record_digests.py [repeats]

Runs each benchmark query ``repeats`` times (default 3) on the committed
sf0.01 tables and writes ``perfbench/digests.json``. A query whose digest
differs between repeats is recorded by row count only. Re-record only
after checking the outputs with ``tests/oracle_check.py`` on the same
tables.
"""

from __future__ import annotations

import json
import shutil
import sys

import run as bench


def main() -> int:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    r = bench.open_run("curation", 0, 0)
    from convex_batch_processor_spark.queries import QUERIES  # noqa: PLC0415

    out = {}
    try:
        r.set_up()
        for name in bench.CURATION:
            seen = []
            for _ in range(repeats):
                df = QUERIES[name].fn(r.spark, bench.DATA)
                rows = df.collect()
                seen.append((len(rows), bench.digest(df.columns, rows)))
                r.spark.catalog.clearCache()
            counts = {n for n, _ in seen}
            if len(counts) != 1:
                raise SystemExit(f"{name}: row count varies between repeats: {counts}")
            steady = len(set(seen)) == 1
            out[name] = {"rows": seen[0][0], **({"sha256": seen[0][1]} if steady else {})}
            bench.log(f"{name}: {out[name]}{'' if steady else ' (digest unsteady)'}")
    finally:
        r.stop()
        shutil.rmtree(r.work, ignore_errors=True)
    (bench.BENCH / "digests.json").write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
