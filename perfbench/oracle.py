"""Result checks: the repo's DuckDB-oracle comparison, and an
order-insensitive hash for comparing later executions with a verified one.

`verified` is `tests/oracle_utils.compare` itself, so an entry passes here
exactly when it passes the repo's correctness gate. It runs once per entry
per run, outside the timed part; every timed `collect()` is then compared
with the hash of that verified execution.
"""

from __future__ import annotations

import hashlib
import sys
import traceback

from tests.oracle_utils import _norm, compare


def result_hash(columns: list[str], rows) -> str:
    """sha256 over the canonical form: columns in name order, every cell
    normalised, rows sorted — independent of row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_norm(row[i]) for i in order) for row in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def verified(name: str, df, sql: str, sf_dir: str) -> bool:
    """True when ``df`` matches its oracle SQL on DuckDB over ``sf_dir``."""
    try:
        ok, msg = compare(df, sql, sf_dir)
    except Exception:
        ok, msg = False, traceback.format_exc()
    if not ok:
        print(f"perfbench: {name} disagrees with its oracle: {msg}", file=sys.stderr)
    return ok
