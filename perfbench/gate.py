"""Correctness gate: the oracle comparison rule of the engine's
verification harness (the one ``tools/driver_sim.py`` reproduces).

A query's output matches its DuckDB oracle when the row counts agree,
the column names agree as sorted sets, and an order-insensitive hash of
the rendered values agrees. Oracle results are fetched through numpy as
the harness does, so a HUGEINT that DuckDB hands back as float64 renders
``150.0`` and mismatches Spark's ``150`` exactly as it would there.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def duckdb_rows(con, sql: str) -> tuple[list[tuple], list[str]]:
    """Run ``sql`` and render rows the way the harness's numpy fetch does."""
    import numpy.ma as ma

    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    arrs = res.fetchnumpy()
    out = []
    for c in cols:
        a = arrs[c]
        mask = ma.getmaskarray(a) if isinstance(a, ma.MaskedArray) else [False] * len(a)
        data = a.data if isinstance(a, ma.MaskedArray) else a
        out.append([None if m else (v.tolist() if hasattr(v, "tolist") else v) for v, m in zip(data, mask)])
    return list(zip(*out)), cols


def digest(rows, cols) -> dict:
    """What the rule compares: row count, column set, value hash."""
    return {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(rows, cols)}


def mismatch(rows, cols, want: dict) -> str | None:
    """None when the outputs match the oracle's digest, else why not."""
    got = digest(rows, cols)
    for key in ("rows", "cols", "hash"):
        if got[key] != want[key]:
            return f"{key}: {got[key]} != {want[key]}"
    return None


@dataclass
class Tally:
    """Operations attempted and failed; ``failed_frac`` is their ratio."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, name: str, why: str | None) -> None:
        """One operation; ``why`` is None when it succeeded."""
        self.attempted += 1
        if why is not None:
            self.failed += 1
            self.reasons.append(f"{name}: {why}")

    def add(self, name: str, attempted: int, failed: int) -> None:
        """A block of ``attempted`` operations of which ``failed`` failed."""
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.reasons.append(f"{name}: {failed} of {attempted} failed")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
