"""Output checks: each accepts a good output and rejects each kind of bad one."""

import pytest

from perfbench.checks import CheckFailed, check_curation, check_scored_tsv


def _write_tsv(directory, scores, parts=2):
    directory.mkdir()
    (directory / "_SUCCESS").write_text("")
    (directory / ".part-00000.csv.crc").write_text("not data")
    # part files hold consecutive slices, in order
    chunks, start = [], 0
    for i in range(parts):
        n = len(scores) // parts + (1 if i < len(scores) % parts else 0)
        chunks.append(scores[start:start + n])
        start += n
    for i, chunk in enumerate(chunks):
        (directory / f"part-{i:05d}.csv").write_text(
            "".join(f"10.0.0.{j}\tqry.example.com\t{s}\n" for j, s in enumerate(chunk)))
    return str(directory)


def test_scored_tsv_accepts_sorted_scores(tmp_path):
    scores = [0.0, 1e-9, 1e-9, 0.25, 1.0]
    assert check_scored_tsv(_write_tsv(tmp_path / "out", scores), 5) == 5


def test_scored_tsv_rejects_unsorted(tmp_path):
    with pytest.raises(CheckFailed, match="below previous"):
        check_scored_tsv(_write_tsv(tmp_path / "out", [0.1, 0.3, 0.2, 0.4]), 4)


def test_scored_tsv_rejects_unsorted_across_parts(tmp_path):
    with pytest.raises(CheckFailed, match="below previous"):
        check_scored_tsv(_write_tsv(tmp_path / "out", [0.5, 0.6, 0.1, 0.2]), 4)


@pytest.mark.parametrize("n_rows", [3, 5])
def test_scored_tsv_rejects_wrong_row_count(tmp_path, n_rows):
    out = _write_tsv(tmp_path / "out", [0.1 * i for i in range(n_rows)])
    with pytest.raises(CheckFailed, match="expected 4 rows"):
        check_scored_tsv(out, 4)


@pytest.mark.parametrize("bad", [-0.01, 1.5])
def test_scored_tsv_rejects_out_of_range(tmp_path, bad):
    scores = sorted([0.1, 0.2, bad])
    with pytest.raises(CheckFailed, match="outside"):
        check_scored_tsv(_write_tsv(tmp_path / "out", scores), 3)


def test_scored_tsv_rejects_non_numeric_score(tmp_path):
    with pytest.raises(CheckFailed, match="not a number"):
        check_scored_tsv(_write_tsv(tmp_path / "out", ["0.1", "score"]), 2)


REPORT = {"input": 10, "after_c4_clean": 9, "after_quality_gate": 8,
          "after_near_dup": 6, "output": "/out"}


def test_curation_accepts_consistent_output():
    assert check_curation(REPORT, [0, 1, 2, 3, 4, 5], planted_copies=[8, 9]) == 6


def test_curation_rejects_growing_stage():
    report = dict(REPORT, after_quality_gate=10)
    with pytest.raises(CheckFailed, match="counts more"):
        check_curation(report, [0, 1, 2, 3, 4, 5], planted_copies=[])


def test_curation_rejects_row_count_mismatch():
    with pytest.raises(CheckFailed, match="last stage counted 6"):
        check_curation(REPORT, [0, 1, 2, 3, 4], planted_copies=[])


def test_curation_rejects_duplicate_ids():
    with pytest.raises(CheckFailed, match="duplicate"):
        check_curation(REPORT, [0, 1, 2, 3, 3, 4], planted_copies=[])


def test_curation_rejects_kept_copies():
    with pytest.raises(CheckFailed, match="planted copies removed"):
        check_curation(REPORT, [0, 1, 2, 3, 8, 9], planted_copies=[8, 9])
