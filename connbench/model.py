"""Brute-force reference model of the connector's read semantics.

Computed from the generated cells alone, with none of the program's
code, so every lookup, scan aggregate and read-back can be checked
against it:

- latest mode keeps the newest cell per ``(row_key, qualifier)``;
  version-unnest keeps every cell;
- the surviving cells pivot to one row per ``(row_key, ts)``; a
  qualifier with no cell at that timestamp is NULL (a NULL hole);
- the row key splits on ``#`` into ``region, device, minute``;
- ``pressure`` decodes as 8-byte big-endian signed int64, ``temperature``
  as UTF-8;
- relational filters (``_timestamp`` range, ``pressure >=``) apply to
  the pivoted rows.

Rows are tuples ``(region, device, minute, ts_us, pressure, temperature)``.
"""

from __future__ import annotations

import zlib

from gen import SEPARATOR, Cells, minute_label

def _decode(qualifier: int, value: bytes):
    if qualifier == 0:
        return int.from_bytes(value, "big", signed=True) if len(value) == 8 else None
    return value.decode("utf-8", errors="replace")


class Model:
    def __init__(self, cells: Cells):
        self._cells: dict[str, list] = {}
        for k, q, t, v in zip(
            cells.key_index.tolist(), cells.qualifier.tolist(), cells.ts.tolist(), cells.value
        ):
            self._cells.setdefault(cells.keys[k], []).append((q, t, v))

    def cells_of(self, key: str) -> int:
        return len(self._cells.get(key, ()))

    def rows_for_key(self, key: str, latest: bool) -> list[tuple]:
        cells = self._cells.get(key, [])
        if latest:
            newest: dict[int, tuple] = {}
            for q, t, v in cells:
                if q not in newest or t > newest[q][1]:
                    newest[q] = (q, t, v)
            cells = list(newest.values())
        by_ts: dict[int, list] = {}
        for q, t, v in cells:
            row = by_ts.setdefault(t, [None, None])
            row[q] = _decode(q, v)
        region, device, minute = key.split(SEPARATOR)
        return [(region, device, minute, t, *by_ts[t]) for t in sorted(by_ts)]

    def lookup_keys(self, region: str, devices, lo: str, hi: str) -> list[str]:
        """Keys selected by ``region = r AND device IN devices AND minute
        BETWEEN lo AND hi`` (the store's minutes are a contiguous grid)."""
        lo_m = int(lo[-4:-2]) * 60 + int(lo[-2:])
        hi_m = int(hi[-4:-2]) * 60 + int(hi[-2:])
        out = []
        for d in devices:
            for m in range(lo_m, hi_m + 1):
                key = SEPARATOR.join((region, d, minute_label(m)))
                if key in self._cells:
                    out.append(key)
        return out

    def lookup(self, region: str, devices, lo: str, hi: str) -> list[tuple]:
        rows = []
        for key in self.lookup_keys(region, devices, lo, hi):
            rows.extend(self.rows_for_key(key, latest=True))
        return sort_rows(rows)

    def scan(self, latest: bool, ts_lo=None, ts_hi=None, pressure_ge=None) -> list[tuple]:
        rows = []
        for key in self._cells:
            for r in self.rows_for_key(key, latest):
                if ts_lo is not None and r[3] < ts_lo:
                    continue
                if ts_hi is not None and r[3] > ts_hi:
                    continue
                if pressure_ge is not None and (r[4] is None or r[4] < pressure_ge):
                    continue
                rows.append(r)
        return rows


def _sort_key(r: tuple):
    return tuple("" if v is None else v for v in r[:4]) + (
        r[4] is None,
        r[4] or 0,
        r[5] is None,
        r[5] or "",
    )


def sort_rows(rows) -> list[tuple]:
    return sorted(rows, key=_sort_key)


def aggregate(rows) -> tuple:
    """The scan check: one aggregate over every output column -- rows,
    pressure count and sum, temperature count and crc32 sum, crc32 sums
    of the key components, min and max ``_timestamp`` -- in the order
    ``Bench.scan_op`` asks Spark for them."""

    def crc(s):
        return zlib.crc32(s.encode("utf-8"))

    ps = [r[4] for r in rows if r[4] is not None]
    ts = [r[5] for r in rows if r[5] is not None]
    return (
        len(rows),
        len(ps),
        sum(ps) if ps else None,
        len(ts),
        sum(crc(t) for t in ts) if ts else None,
        sum(crc(r[0]) for r in rows) if rows else None,
        sum(crc(r[1]) for r in rows) if rows else None,
        sum(crc(r[2]) for r in rows) if rows else None,
        min(r[3] for r in rows) if rows else None,
        max(r[3] for r in rows) if rows else None,
    )
