"""Result fingerprints: row count plus an order-insensitive value hash.

Values are canonicalized the way the engine's correctness suite compares
Spark against DuckDB: columns sorted by name, floats compared by ``repr``
(bit-for-bit), decimals scale-insensitively, timestamps as naive ISO text.
The hash of a result is the sum (mod 2**64) of per-row digests, so it does
not depend on row order and costs one pass over the rows.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from dataclasses import dataclass
from typing import Any, Iterable, Sequence

_MASK = (1 << 64) - 1


def _norm(value: Any) -> Any:
    if value is None or isinstance(value, bool):
        return value
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value)
    if isinstance(value, decimal.Decimal):
        return f"dec:{value.normalize()}"
    if isinstance(value, datetime.datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, datetime.date):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(_norm(v) for v in value)
    if isinstance(value, dict):
        return tuple(sorted((_norm(k), _norm(v)) for k, v in value.items()))
    return value


@dataclass(frozen=True)
class Fingerprint:
    columns: tuple[str, ...]
    rows: int
    digest: int

    def describe(self) -> str:
        return f"{self.rows} rows, cols={list(self.columns)}, hash={self.digest:016x}"


def fingerprint(columns: Sequence[str], rows: Iterable[Sequence[Any]]) -> Fingerprint:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = count = 0
    for row in rows:
        canon = repr(tuple(_norm(row[i]) for i in order)).encode()
        total += int.from_bytes(hashlib.blake2b(canon, digest_size=8).digest(), "little")
        count += 1
    return Fingerprint(tuple(columns[i] for i in order), count, total & _MASK)


def oracle_fingerprint(con, sql: str) -> Fingerprint:
    rel = con.sql(sql)
    return fingerprint(list(rel.columns), rel.fetchall())
