"""Correctness checks of the benchmark (pure Python, no Spark).

* ``compare_state``: engine rows of a snapshot table against the
  sequential oracle (``events.apply_oracle``), per key by sha256 of the
  content read back, by the stored ``content_sha256``, by ``lang`` and by
  lsn.
* ``compare_tables``: a Spark query result against its DuckDB answer, on
  column names, Arrow types and row count; non-float values exactly and
  floats within ``REL_TOL`` (DuckDB and Spark may sum doubles in a
  different order, which moves the last ulp).
* ``multiset_digest``: order-free digest of a result, for the legs that
  have no oracle and must repeat themselves.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterable

import pyarrow as pa

REL_TOL = 1e-9
MAX_REPORTED = 5


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def oracle_expect(state: dict[tuple[str, str], dict]) -> dict[tuple[str, str], tuple[str, str | None, int]]:
    """(sha256(content), lang, lsn) per live key of an oracle state."""
    return {k: (_sha256(v["content"]), v["lang"], int(v["lsn"])) for k, v in state.items()}


def compare_state(
    engine_rows: Iterable[tuple[str, str, str, str, str | None, int]],
    expect: dict[tuple[str, str], tuple[str, str | None, int]],
) -> list[str]:
    """Mismatches between engine rows (repo, path, content,
    content_sha256, lang, lsn) and the oracle expectation; empty when
    they agree row for row. The content read back is hashed here, and the
    digest the engine stored must agree with it."""
    problems: list[str] = []
    seen: set[tuple[str, str]] = set()
    for repo, path, content, stored_sha, lang, lsn in engine_rows:
        key = (repo, path)
        if key in seen:
            problems.append(f"duplicate live row {key}")
            continue
        seen.add(key)
        want = expect.get(key)
        if want is None:
            problems.append(f"row {key} not in oracle")
            continue
        got = (_sha256(content) if isinstance(content, str) else None, lang, int(lsn))
        if got != want:
            problems.append(f"row {key}: engine (sha256(content), lang, lsn) {got} != oracle {want}")
        elif stored_sha != want[0]:
            problems.append(f"row {key}: stored content_sha256 {stored_sha} != oracle {want[0]}")
    missing = len(expect) - len(seen & set(expect))
    if missing:
        problems.append(f"{missing} oracle rows missing from the engine")
    return problems


def _canon_type(t: pa.DataType) -> tuple:
    if pa.types.is_integer(t):
        return ("int", t.bit_width)
    if pa.types.is_floating(t):
        return ("float", t.bit_width)
    if pa.types.is_decimal(t):
        return ("decimal", t.precision, t.scale)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return ("string",)
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return ("binary",)
    if pa.types.is_timestamp(t):
        return ("timestamp",)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return ("list", _canon_type(t.value_type))
    if pa.types.is_struct(t):
        return ("struct", tuple((f.name, _canon_type(f.type)) for f in t))
    return (str(t),)


def _sort_key(v):
    """Total order over mixed values; floats rounded so that a last-ulp
    difference cannot reorder rows."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "nan") if math.isnan(v) else (2, float(f"{v:.9g}"))
    if isinstance(v, (list, tuple)):
        return (3, tuple(_sort_key(x) for x in v))
    if isinstance(v, dict):
        return (3, tuple(_sort_key(x) for x in v.values()))
    if isinstance(v, (int, bool)):
        return (2, v)
    return (4, str(v))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0) or a == b
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def _rows(t: pa.Table, cols: list[str]) -> list[tuple]:
    data = [t.column(c).to_pylist() for c in cols]
    rows = list(zip(*data)) if data else []
    return sorted(rows, key=lambda r: tuple(_sort_key(v) for v in r))


def compare_tables(got: pa.Table, want: pa.Table) -> list[str]:
    """Mismatches between a Spark result and its DuckDB answer."""
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return [f"columns {gcols} != {wcols}"]
    problems = []
    for c in gcols:
        gt, wt = _canon_type(got.schema.field(c).type), _canon_type(want.schema.field(c).type)
        if gt != wt:
            problems.append(f"column {c}: type {gt} != {wt}")
    if got.num_rows != want.num_rows:
        problems.append(f"rows {got.num_rows} != {want.num_rows}")
    if problems:
        return problems
    for i, (g, w) in enumerate(zip(_rows(got, gcols), _rows(want, gcols))):
        if not _same(g, w):
            problems.append(f"row {i}: {g} != {w}")
            if len(problems) >= MAX_REPORTED:
                break
    return problems


def multiset_digest(t: pa.Table) -> str:
    """sha256 over the sorted rows (columns by name): equal for equal
    row multisets, whatever order the engine produced them in."""
    cols = sorted(t.column_names)
    h = hashlib.sha256(repr(cols).encode())
    for r in _rows(t, cols):
        h.update(repr(r).encode())
    return h.hexdigest()
