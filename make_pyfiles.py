#!/usr/bin/env python
"""Package rsgislib_spark for ``spark-submit --py-files``.

Produces ``dist/rsgislib_spark.zip`` (the whole package, imports intact).
Cluster launch (the north-rule deployment shape)::

    python make_pyfiles.py
    spark-submit \\
        --py-files dist/rsgislib_spark.zip \\
        --num-executors $N --executor-cores 4 --executor-memory 8g \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=8192 \\
        job.py

4 cores/executor is deliberate: every Arrow task pairs a JVM thread with
a Python worker, so small executors keep the per-JVM Arrow channel count
in the regime measured as linear (2 to 8 workers).  Scale by adding executors
(N -> 4N), not by widening them.
"""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.abspath(__file__))


def main() -> str:
    out_dir = os.path.join(ROOT, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "rsgislib_spark.zip")
    pkg = os.path.join(ROOT, "rsgislib_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    main()
