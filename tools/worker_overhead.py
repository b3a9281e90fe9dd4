"""Per-task Python-worker overhead: a pure-Catalyst job vs mapInPandas.

Times three tiny jobs on one ``get_spark`` session (8 reps each, the
first dropped, median reported): a 1-partition Catalyst job, a
1-partition ``mapInPandas`` that returns its input, and the same over 4
partitions. The gap between the first two is what one Python task costs
over Catalyst. It also asks each worker whether lucene_spark's zipimport
hook (``lucene_spark._worker``) is active there.

Usage: python tools/worker_overhead.py [master]   (default local[4])
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from lucene_spark.session import get_spark  # noqa: E402

REPS = 8


def _echo(batches):
    import lucene_spark  # noqa: F401  (what every engine kernel imports)

    yield from batches


def _hook_state(batches):
    import pandas as pd

    try:
        from lucene_spark._worker import installed
    except ImportError:  # a tree without the hook
        def installed():
            return False

    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "hook": [installed()]})


def _median_ms(job) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        job()
        times.append((time.perf_counter() - t0) * 1e3)
    return round(statistics.median(times[1:]), 1)


def main() -> None:
    master = sys.argv[1] if len(sys.argv) > 1 else "local[4]"
    spark = get_spark(app_name="worker_overhead", master=master, shuffle_partitions=4)
    try:
        def rng(n):
            return spark.range(0, 4000, 1, numPartitions=n)

        out = {
            "catalyst_1p_ms": _median_ms(
                lambda: rng(1).selectExpr("id * 2 AS id").agg({"id": "sum"}).collect()
            ),
            "map_in_pandas_1p_ms": _median_ms(
                lambda: rng(1).mapInPandas(_echo, "id long").agg({"id": "sum"}).collect()
            ),
            "map_in_pandas_4p_ms": _median_ms(
                lambda: rng(4).mapInPandas(_echo, "id long").agg({"id": "sum"}).collect()
            ),
        }
        rows = rng(4).mapInPandas(_hook_state, "pid long, hook boolean").collect()
        out["workers"] = len({r.pid for r in rows})
        out["hook_active"] = all(r.hook for r in rows)
        out["python"] = sys.version.split()[0]
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
