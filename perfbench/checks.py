"""Checks of an import against the generator's walk.

Each function returns a list of problems; an empty list means the
import is correct. They take plain Python values, so the benchmark's own
tests can feed them perturbed outputs.
"""

from __future__ import annotations

from collections import Counter

from dumpgen import TABLES, Walk


def _diff(got: Counter, want: Counter) -> str:
    extra, missing = got - want, want - got
    return (f"{sum(got.values())} rows, expected {sum(want.values())}; "
            f"unexpected {list(extra)[:2]}, missing {list(missing)[:2]}")


def loaded_rows(loaded: dict[str, Counter], walk: Walk, where: str) -> list[str]:
    """Every table's rows, as read back from the sink, equal the walk's."""
    return [f"{where} {t}: {_diff(loaded.get(t, Counter()), walk.rows[t])}"
            for t in TABLES if loaded.get(t, Counter()) != walk.rows[t]]


def pass_counts(counts: dict[str, int], csv_lines: dict[str, int], walk: Walk,
                where: str) -> list[str]:
    """The database's row count and the CSV line count of each table equal
    the walk's row count."""
    out = []
    for t in TABLES:
        want = sum(walk.rows[t].values())
        if counts.get(t) != want:
            out.append(f"{where} {t}: database count {counts.get(t)}, expected {want}")
        if csv_lines.get(t) != want:
            out.append(f"{where} {t}: {csv_lines.get(t)} CSV lines, expected {want}")
    return out


def layer_counts(layers: dict, walk: Walk, where: str) -> list[str]:
    """The traced counts of the parse layer equal what was generated: the
    file's lines (two bracket lines included), the corrupt lines
    injected, and the stale or duplicate lines the dedup must drop."""
    want = {
        "flatten.lines_in": walk.entity_lines + walk.corrupt_lines + 2,
        "flatten.corrupt_lines": walk.corrupt_lines,
        "flatten.stale_dropped": walk.stale_lines,
    }
    return [f"{where} {k}: {layers.get(k)}, expected {v}"
            for k, v in want.items() if layers.get(k) != v]
