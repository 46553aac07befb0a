"""Reference digests for the benchmark's queries.

A digest is the SHA-256 of a result set in canonical form: columns sorted
by name, every value rendered as in ``tools/check_oracle.py`` (repr for
floats, ``NULL`` for None), rows sorted. Spark's collected rows and the
DuckDB oracle's rows digest equal exactly when that checker reports OK.

The digests are derived once from the DuckDB oracles and stored in
``digests.json``; a benchmark run digests what it collected and compares,
because running the oracles on every run would cost more than the run.
Queries without an oracle store their row count only.

Regenerate with::

    python3 perfbench/digests.py
"""

from __future__ import annotations

import hashlib
import json
import math
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"
DIGESTS = HERE / "digests.json"


def canonical(value) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value)
    return str(value)


def digest(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canonical(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def expected_for(scale_dir: Path, names: list[str]) -> dict[str, dict]:
    """Run each query's DuckDB oracle over ``scale_dir`` and digest it."""
    import duckdb

    from autonomous_orchestrator_ai_spark.plans import registry

    registry.load_all()
    con = duckdb.connect()
    for t in registry.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{scale_dir}/{t}.parquet'")
    out = {}
    for name in names:
        sql = registry.resolve_oracle(name, str(scale_dir))
        if sql is None:
            out[name] = {"rows": None, "digest": None}
            continue
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = {"rows": len(rows), "digest": digest(cols, rows)}
    con.close()
    return out


def main() -> int:
    sys.path.insert(0, str(HERE.parent))
    from workloads import QUERY_SETS, SCALES

    names = sorted({q for qs in QUERY_SETS.values() for q in qs})
    table = {
        scale.data: expected_for(DATA / scale.data, names)
        for scale in SCALES.values()
    }
    # queries without an oracle (the ANN top-k family) are checked by row
    # count only, taken from a Spark run
    missing = [
        (d, n) for d, entries in table.items()
        for n, e in entries.items() if e["rows"] is None
    ]
    if missing:
        from autonomous_orchestrator_ai_spark.plans import registry
        from autonomous_orchestrator_ai_spark.session import get_spark

        spark = get_spark("perfbench-digests", cpus=2)
        try:
            for d, n in missing:
                table[d][n]["rows"] = len(
                    registry.QUERIES[n](spark, str(DATA / d)).collect()
                )
        finally:
            spark.stop()
    DIGESTS.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
    print(f"wrote {DIGESTS} ({sum(len(v) for v in table.values())} entries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
