"""Record the reference digests the benchmark checks every run against.

    python3 perfbench/record_digests.py

For each query of every workload, build it over the fixtures, collect
it, and compare it with its DuckDB oracle through
``testing.compare_frames``. Only a match records the Spark result's
digest (``checks.result_digest``); a mismatch records the error, which
every later run reports as a failed check. A rows-only query (no oracle)
records its row count. Rewrites ``digests.json``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import data  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    sf_dir = data.fixture_dir()
    run.configure_process(event_log=False)

    from checks import DIGESTS, result_digest
    from python_etl_sample_spark import scratch, testing
    from python_etl_sample_spark.registry import REGISTRY, load_all_operators
    from python_etl_sample_spark.session import get_spark

    load_all_operators()
    scratch._ROOT = str(data.WORK / "scratch")
    spark = get_spark("perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    try:
        for name in sorted({q for qs in WORKLOADS.values() for q in qs}):
            spec = REGISTRY[name]
            try:
                df = spec.fn(spark, sf_dir)
                if spec.oracle is not None:
                    con = testing.duck_connection(sf_dir)
                    try:
                        duck = con.execute(spec.oracle).df()
                    finally:
                        con.close()
                    testing.compare_frames(df.toPandas(), duck, name=name)
                got = result_digest(df)
                if spec.oracle is None:
                    got.pop("hash")
                out[name] = got
            except Exception as e:  # recorded, and reported by every run
                out[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
            print(f"{name} {out[name]}", flush=True)
    finally:
        spark.stop()
    DIGESTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
