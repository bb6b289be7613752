"""Correctness check of registry query outputs against their DuckDB
oracles, through scripts/check_oracle.py's own `compare` (imported from
its file, not copied)."""

from __future__ import annotations

import importlib.util
import traceback
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parent.parent


def _check_oracle():
    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "scripts" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def problems(results: dict[str, pd.DataFrame], sf_dir: Path) -> dict[str, list[str]]:
    """{query: [problem, ...]} for every result that differs from its
    oracle over the tables in `sf_dir`; a query whose oracle raises
    counts as a problem too."""
    import duckdb

    from apd_map_reduce_spark.registry import QUERY_INDEX

    check_oracle = _check_oracle()
    found: dict[str, list[str]] = {}
    with duckdb.connect() as con:
        for p in sorted(Path(sf_dir).glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        for name, pdf in results.items():
            q = QUERY_INDEX[name]
            try:
                if q.oracle is not None:
                    bad = check_oracle.compare(name, pdf, con.execute(q.oracle).df())
                elif q.bounds is not None:
                    bad = check_oracle.check_bounds(name, pdf, con.execute(q.bounds).df())
                else:
                    bad = [] if len(pdf) else ["zero rows"]
            except Exception:  # noqa: BLE001 - an oracle error fails the check
                bad = [traceback.format_exc(limit=2)]
            if bad:
                found[name] = bad
    return found
