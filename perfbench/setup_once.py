"""Time one benchmark set-up in a fresh process.

    python3 perfbench/setup_once.py OUT.json

run.py starts this, with the environment it prepared, for the set-up
samples beyond its own: import, `registry.load_all_modules()` and
`session.get_spark()`, timed as in run.py. It then stops Spark, the JVM and
its workers, waits for them, and writes the two phase times to OUT.json.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import run

if __name__ == "__main__":
    spark, _, times = run.setup()
    run.stop(spark, spark.sparkContext._gateway.proc.pid)
    Path(sys.argv[1]).write_text(json.dumps(times))
