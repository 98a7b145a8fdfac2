"""Output checks for one analysis. Each raises ``CheckFailed`` naming the
first violation; an analysis that raises, or whose output fails its check,
counts as failed."""

from __future__ import annotations

import math
import os


class CheckFailed(ValueError):
    pass


def _data_files(directory: str) -> list[str]:
    """Part files of a Spark output directory, in part order (hidden and
    underscore-prefixed entries are markers or checksums)."""
    return sorted(
        os.path.join(directory, f) for f in os.listdir(directory)
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(directory, f))
    )


# share of the planted near-duplicate copies the curation must remove
MIN_COPIES_REMOVED = 0.8


def check_scored_tsv(directory: str, max_results: int) -> int:
    """Suspicious-connects output: exactly ``max_results`` rows whose score
    (the last field) lies in [0, 1] and never decreases. Returns the row
    count."""
    rows = []
    for path in _data_files(directory):
        with open(path) as f:
            rows.extend(line.rstrip("\n") for line in f if line.strip())
    if len(rows) != max_results:
        raise CheckFailed(f"expected {max_results} rows, found {len(rows)}")
    prev = -math.inf
    for i, row in enumerate(rows):
        field = row.rsplit("\t", 1)[-1]
        try:
            score = float(field)
        except ValueError:
            raise CheckFailed(f"row {i}: score {field!r} is not a number")
        if not 0.0 <= score <= 1.0:
            raise CheckFailed(f"row {i}: score {score} outside [0, 1]")
        if score < prev:
            raise CheckFailed(f"row {i}: score {score} below previous {prev}")
        prev = score
    return len(rows)


def check_curation(report: dict, ids: list[int], planted_copies: list[int]) -> int:
    """Curation output: stage counts never increase, the output holds as
    many rows as the last stage counted, ids are unique, and most planted
    near-duplicate copies are gone. ``ids`` are the output's doc ids.
    Returns the output row count."""
    counts = [(k, v) for k, v in report.items() if k != "output"]
    if not counts:
        raise CheckFailed("empty stage report")
    for (a, na), (b, nb) in zip(counts, counts[1:]):
        if nb > na:
            raise CheckFailed(f"stage {b} ({nb}) counts more than {a} ({na})")
    if len(ids) != counts[-1][1]:
        raise CheckFailed(f"output has {len(ids)} rows, last stage counted {counts[-1][1]}")
    if len(set(ids)) != len(ids):
        raise CheckFailed(f"{len(ids) - len(set(ids))} duplicate ids in the output")
    if planted_copies:
        kept = len(set(planted_copies) & set(ids))
        removed = 1.0 - kept / len(planted_copies)
        if removed < MIN_COPIES_REMOVED:
            raise CheckFailed(
                f"only {removed:.0%} of {len(planted_copies)} planted copies removed"
            )
    return len(ids)
