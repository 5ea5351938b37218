"""Per-task cost of ``importlib.invalidate_caches()`` in a Python worker.

    python3 tools/pyworker_cost.py [--calls 20]

Every Python UDF task ends its set-up (``pyspark.worker_util.
setup_spark_files``) with ``importlib.invalidate_caches()``. This starts a
worker-like interpreter, whose path begins with pyspark.zip and the py4j
zip as a Spark Python worker's does, imports the worker and the pandas-UDF
modules from the zip, and times the call ``--calls`` times: first under
the stock zipimporter rule, then under ``striot_spark.pydaemon``'s. Prints
one JSON line: the worker's zipimporters and pyspark.zip entries, and
min/median/max milliseconds per call under each rule.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import statistics
import subprocess
import sys
import time
import zipimport
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _time_calls(calls: int) -> dict:
    ms = []
    for _ in range(calls):
        t = time.perf_counter()
        importlib.invalidate_caches()
        ms.append((time.perf_counter() - t) * 1000.0)
    return {
        "min_ms": round(min(ms), 2),
        "median_ms": round(statistics.median(ms), 2),
        "max_ms": round(max(ms), 2),
    }


def child(calls: int) -> None:
    import pyspark
    import pyspark.sql.pandas.group_ops  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.sql.streaming.state  # noqa: F401
    import pyspark.worker  # noqa: F401

    if ".zip" not in pyspark.__file__:
        sys.exit(f"pyspark came from {pyspark.__file__}, not from pyspark.zip")
    importers = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter)
    ]
    pyspark_zip = next(i for i in importers if i.archive.endswith("pyspark.zip"))
    out = {
        "zipimporters": len(importers),
        "pyspark_zip_entries": len(pyspark_zip._files),
        "stock": _time_calls(calls),
    }
    from striot_spark import pydaemon

    pydaemon.install()
    out["striot_spark.pydaemon"] = _time_calls(calls)
    print(json.dumps(out))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--calls", type=int, default=20)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        child(args.calls)
        return 0

    from pyspark.find_spark_home import _find_spark_home

    # the worker path Spark builds: pyspark.zip, the py4j zip, then the
    # executor's PYTHONPATH (the directory holding striot_spark)
    lib = os.path.join(_find_spark_home(), "python", "lib")
    zips = [
        os.path.join(lib, "pyspark.zip"),
        *sorted(glob.glob(os.path.join(lib, "py4j-*.zip"))),
    ]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([*zips, str(REPO)]))
    return subprocess.run(
        [sys.executable, __file__, "--child", "--calls", str(args.calls)],
        env=env, cwd=str(REPO),
    ).returncode


if __name__ == "__main__":
    raise SystemExit(main())
