"""Helpers shared by the workloads: pass statistics, output fingerprints
and small forcing/counting utilities."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class PassStats:
    """What one pass measured. An operation is one scheduled run, or one
    AvailableNow invocation of a stream surface. ``first_*`` are those
    that start from empty state (the no-snapshot run, a surface's first
    invocation); the others are incremental. Wall and CPU seconds are
    kept side by side; ``layers`` holds per-layer counters."""

    first_op_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    first_op_cpu_s: list[float] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    checks_s: float = 0.0
    layers: dict = field(default_factory=dict)

    def record(self, first: bool, wall: float, cpu: float) -> None:
        (self.first_op_s if first else self.op_s).append(wall)
        (self.first_op_cpu_s if first else self.op_cpu_s).append(cpu)

    @property
    def pass_s(self) -> float:
        return sum(self.first_op_s) + sum(self.op_s)

    @property
    def pass_cpu_s(self) -> float:
        return sum(self.first_op_cpu_s) + sum(self.op_cpu_s)


def add(d: dict, key: str, v) -> None:
    d[key] = d.get(key, 0) + v


def fingerprint_of(df: DataFrame, cols: list[str | Column]) -> tuple[int, int]:
    """(row count, sum of 32-bit md5 prefixes of the '|'-joined rows) —
    order-insensitive; gen.fingerprint builds the same string in Python."""
    text = F.concat_ws(
        "|",
        *[F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), F.lit("\\N"))
          for c in cols],
    )
    h = F.conv(F.substring(F.md5(text), 1, 8), 16, 10).cast("long")
    n, s = df.agg(F.count(F.lit(1)), F.coalesce(F.sum(h), F.lit(0))).first()
    return int(n), int(s)


def noop(df: DataFrame) -> None:
    """Force a plan without keeping or writing its rows."""
    df.write.format("noop").mode("overwrite").save()


def count_files(path: str) -> int:
    """Data files under a parquet table directory (metadata files excluded)."""
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n
