"""Order-insensitive result digests, and the stored reference digests.

``oracle.json`` holds, for every query the benchmark runs, the digest of
the DuckDB oracle's result over the sf0.01 tables in ``data/sf0.01``, and
for the size-gated rows the number of Spark jobs their single-task kernel
path submits (a forced-distributed row that submits that many fails).
``python3 perfbench/run.py --recompute-oracle`` rewrites the file.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
from pathlib import Path

ORACLE_FILE = Path(__file__).resolve().parent / "oracle.json"


def _tok(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if v.time() == datetime.time(0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_tok(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_tok(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def digest(table) -> dict:
    """Digest of an Arrow table that ignores row and column order."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted("|".join(_tok(col[i]) for col in data) for i in range(table.num_rows))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return {"rows": table.num_rows, "sha256": h.hexdigest()[:24]}


def load() -> dict:
    return json.loads(ORACLE_FILE.read_text())


def recompute(spark, queries, names: list[str], gated: list[str], data_dir: Path,
              next_job_id) -> dict:
    """Run every oracle in DuckDB and every gated row's kernel path in
    Spark, and write ``oracle.json``. Returns the written content."""
    import duckdb

    con = duckdb.connect()
    for path in sorted(data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
    out = {"queries": {}, "kernel_jobs": {}}
    for name in names:
        out["queries"][name] = digest(con.execute(queries[name].oracle).arrow())
    for name in gated:
        queries[name].spark(spark, str(data_dir)).toArrow()  # warm the caches
        j0 = next_job_id()
        got = digest(queries[name].spark(spark, str(data_dir)).toArrow())
        out["kernel_jobs"][name] = next_job_id() - j0
        if got["sha256"] != out["queries"][name]["sha256"]:
            raise SystemExit(f"kernel path of {name} disagrees with its oracle")
    ORACLE_FILE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return out
