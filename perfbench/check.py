"""Output checks: order-insensitive result comparison.

Rows are canonicalised the way the engine's oracle-parity suite does
it (columns sorted by name, values typed and stringified, rows
sorted), so a Spark result and a DuckDB result of the same query
compare equal regardless of row order. Values must match exactly, as
the driver's strict mode requires.
"""

from __future__ import annotations


def canon(rows, columns) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def key(row):
        out = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                out.append(f"f:{v!r}")
            elif v is None:
                out.append("null")
            else:
                out.append(f"{type(v).__name__}:{v}")
        return tuple(out)

    return sorted(key(r) for r in rows)


class Expected:
    """Expected canonical results per operation, from its oracle."""

    def __init__(self, given: dict[str, tuple[list[str], list[tuple]]]):
        self._canon = {name: canon(rows, cols) for name, (cols, rows) in given.items()}
        self._cols = {name: sorted(cols) for name, (cols, _rows) in given.items()}

    def check(self, name: str, cols: list[str], rows) -> str | None:
        """None when the result matches, else a one-line reason."""
        if name not in self._canon:
            return f"{name}: no expected result"
        if sorted(cols) != self._cols[name]:
            return f"{name}: columns {sorted(cols)} != {self._cols[name]}"
        c, exp = canon(rows, cols), self._canon[name]
        if c == exp:
            return None
        return f"{name}: {len(c)} rows vs {len(exp)} expected; first {c[:1]} vs {exp[:1]}"


def flag_failures(name: str, cols: list[str], rows) -> str | None:
    """Audit rows carry their own pass flags (columns named ``*_ok``,
    ``prune_*``, ``pre_prune_none``, ``*_parity``, ``*_match``): each
    must read 1 / true."""
    flags = [
        i
        for i, c in enumerate(cols)
        if c.endswith(("_ok", "_parity", "_match", "_matches"))
        or c.startswith("prune_")
        or c == "pre_prune_none"
    ]
    for r in rows:
        for i in flags:
            if r[i] not in (1, True):
                return f"{name}: flag {cols[i]} = {r[i]!r}"
    return None


def day_failure(name: str, new: int, skill_rows: int, day: dict) -> str | None:
    """An etl_daily day inserts exactly its fresh postings and one skill
    row per (posting, dictionary term); a non-replay day mines some."""
    if new != day["expected_new"]:
        return f"{name}: inserted {new} listings, expected {day['expected_new']}"
    if skill_rows != day["expected_skill_rows"]:
        return f"{name}: {skill_rows} skill rows, expected {day['expected_skill_rows']}"
    if day["expected_new"] and skill_rows == 0:
        return f"{name}: no skill rows"
    return None
