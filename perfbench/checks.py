"""Result checking against digests recorded from oracle-matched runs.

``record_digests.py`` runs each workload query once, compares the Spark
result with its DuckDB oracle via ``testing.compare_frames`` and, only
when they match, stores an order-insensitive digest of the Spark result
in ``digests.json``. Every benchmark run recomputes the digest of each
timed DataFrame, outside the timed region, and compares. A query with no
oracle (rows-only) is checked on its row count alone.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

DIGESTS = Path(__file__).resolve().parent / "digests.json"


def _has_map(dt: DataType) -> bool:
    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return False


def result_digest(df: DataFrame) -> dict:
    """Row count plus the sum of per-row hashes over name-sorted columns.

    Summing per-row hashes makes the digest independent of row order and
    partitioning; duplicate rows still count. Map-typed columns cannot
    be hashed by Spark, so they are hashed through their JSON form.
    """
    fields = df.schema.fields
    cols = []
    for i in sorted(range(len(fields)), key=lambda i: (fields[i].name, i)):
        c = df[i]
        cols.append(F.to_json(F.struct(c)) if _has_map(fields[i].dataType) else c)
    h = F.xxhash64(*cols) if cols else F.lit(0)
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")
    ).collect()[0]
    return {"rows": int(row["n"]), "hash": str(row["h"] or 0)}


def load_reference() -> dict[str, dict]:
    """``{query: reference}`` from digests.json."""
    if not DIGESTS.exists():
        return {}
    with open(DIGESTS) as f:
        return json.load(f)


def check(ref: dict | None, got: dict) -> str | None:
    """None when ``got`` matches the reference, else why it does not."""
    if ref is None:
        return "no recorded reference digest"
    if "error" in ref:
        return f"reference run did not match the oracle: {ref['error']}"
    if got["rows"] != ref["rows"]:
        return f"row count {got['rows']} != recorded {ref['rows']}"
    if "hash" in ref and got["hash"] != ref["hash"]:
        return f"value digest {got['hash']} != recorded {ref['hash']}"
    return None
