"""The span->geometry extractor must misattribute nothing: a batch
where one doc has two geo spans and another has zero passes a pure
count check but must fail the per-parent alignment check."""

import pyarrow as pa
import pytest

from spatialgraft.extract import _one_per_parent


def test_misaligned_batch_rejected():
    values = pa.array(["POINT(1 1)", "POINT(2 2)"])
    parents = pa.array([0, 0], type=pa.int64())  # doc0 x2, doc1 x0
    with pytest.raises(ValueError, match="misaligned"):
        _one_per_parent(values, parents, 2, "geo")


def test_aligned_batch_passes():
    values = pa.array(["a", "b"])
    parents = pa.array([0, 1], type=pa.int64())
    assert _one_per_parent(values, parents, 2, "x") is values


def test_empty_batch_passes():
    v = pa.array([], type=pa.string())
    p = pa.array([], type=pa.int64())
    assert len(_one_per_parent(v, p, 0, "x")) == 0

