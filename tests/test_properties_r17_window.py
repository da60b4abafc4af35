"""Round-17 optimization guards: fail-loud fixpoints (r16 verdict task
#10) — an iteration cap hit with labels still changing must raise, never
return silently-wrong non-fixpoint component labels — and the ANN kernels'
embedding decoder, which must reject null or ragged input instead of
returning a misshapen matrix."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from highspeedrailwaybigdatasystem_spark.functions.llm_ann import _emb_f64
from highspeedrailwaybigdatasystem_spark.functions.llm_dedup import (
    _label_propagation_fixpoint,
)


def test_emb_f64_rejects_nulls_and_ragged_rows():
    """Pure pyarrow, no Spark: a null row, a null element and a ragged
    column each raise a ValueError naming the helper; a valid 3×4 float
    column decodes to exactly the old ``to_pylist()`` float64 matrix."""
    f32 = pa.list_(pa.float32())
    for bad in (
        pa.array([[1.0, 2.0], None, [3.0, 4.0]], type=f32),
        pa.array([[1.0, None], [3.0, 4.0]], type=f32),
        pa.array([[1.0, 2.0, 3.0], [4.0, 5.0]], type=f32),
    ):
        with pytest.raises(ValueError, match="_emb_f64"):
            _emb_f64(bad, len(bad))
    rows = [[0.1 * (4 * i + j) - 0.5 for j in range(4)] for i in range(3)]
    col = pa.array(rows, type=f32)
    got = _emb_f64(col, 3)
    assert got.dtype == np.float64 and got.shape == (3, 4)
    assert np.array_equal(got, np.array(col.to_pylist(), dtype=np.float64))


def test_label_propagation_raises_on_cap(spark):
    """A 7-vertex chain cannot converge in one superstep; with the cap
    forced to 1 the fixpoint must raise instead of returning the partial
    labels (which would be wrong component ids)."""
    chain = [(i, i + 1) for i in range(10, 16)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        _label_propagation_fixpoint(edges, max_iter=1)


def test_label_propagation_converged_unaffected(spark):
    """The default cap still returns the exact component-min fixpoint —
    the raise is strictly a non-convergence path."""
    edges = spark.createDataFrame([(5, 6), (6, 7)], "src long, dst long")
    got = {r["v"]: r["lbl"] for r in _label_propagation_fixpoint(edges).collect()}
    assert got == {5: 5, 6: 5, 7: 5}


def test_graph_cc_raises_on_cap(spark, monkeypatch):
    """graph_connected_components under a forced 1-superstep cap: the
    events-derived segment graph needs several supersteps at sf0.001, so
    the capped run must raise rather than emit a wrong size histogram."""
    from highspeedrailwaybigdatasystem_spark.operators import graph

    monkeypatch.setattr(graph, "_CC_MAX_ITER", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.graph_connected_components(spark, "/root/testdata/sf0.001").collect()
