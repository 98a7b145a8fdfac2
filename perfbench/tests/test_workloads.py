"""Generators: one seed gives byte-identical inputs, another seed others."""

import csv

import pyarrow.parquet as pq
import pytest

from oni_ml_spark.schemas import DNS_FEEDBACK_COLUMNS
from perfbench import workloads
from perfbench.run import _digest

GENERATORS = [workloads.dns_feedback_day, workloads.curate_corpus]


@pytest.mark.parametrize("generate", GENERATORS, ids=lambda g: g.__name__)
def test_same_seed_same_files(tmp_path, generate):
    a, b = tmp_path / "a", tmp_path / "b"
    assert generate(7, str(a)).files.keys() == generate(7, str(b)).files.keys()
    assert _digest(a) == _digest(b)


@pytest.mark.parametrize("generate", GENERATORS, ids=lambda g: g.__name__)
def test_other_seed_other_files(tmp_path, generate):
    generate(7, str(tmp_path / "a"))
    generate(8, str(tmp_path / "b"))
    assert _digest(tmp_path / "a") != _digest(tmp_path / "b")


def test_dns_feedback_matches_the_program_schema(tmp_path):
    inputs = workloads.dns_feedback_day(3, str(tmp_path))
    with open(inputs.files["feedback"]) as f:
        rows = list(csv.reader(f, delimiter="\t"))
    assert rows[0] == DNS_FEEDBACK_COLUMNS
    assert len(rows) == 1 + workloads.DNS_FEEDBACK_ROWS
    assert pq.read_table(inputs.files["input"]).num_rows == workloads.DNS_ROWS


def test_curate_copies_follow_their_originals(tmp_path):
    inputs = workloads.curate_corpus(3, str(tmp_path))
    docs = pq.read_table(inputs.files["input"]).to_pydict()
    assert docs["doc_id"] == list(range(workloads.CURATE_DOCS))
    # near-dup removal keeps a cluster's smallest id, so the copies are the
    # largest ids: the ones the check expects to be gone
    copies = inputs.planted_copies
    assert copies == list(range(workloads.CURATE_DOCS - len(copies), workloads.CURATE_DOCS))
    assert len(copies) == workloads.CURATE_DOCS // 10
    assert pq.read_table(inputs.files["model"]).num_rows == workloads.CURATE_BUCKETS
