"""The ann scoring kernel keeps ONE scratch buffer per worker.

M (the candidate count) follows the catalog size, so a worker that
scores several fixtures sees several M values; the buffer is replaced
when M changes instead of accumulating one ~16-67 MB buffer per M.
"""

from __future__ import annotations

import numpy as np

from antidote_data_framework_spark.ml import als


def test_scratch_keeps_one_buffer_across_m_values():
    rng = np.random.default_rng(7)
    als._ANN_SCRATCH = None
    U = rng.standard_normal((100, 10))
    for m in (256, 600):
        Ct = rng.standard_normal((10, m))
        S = als._score_chunk(U, Ct)
        assert S.shape == (100, m)
        assert np.array_equal(S, np.matmul(U, Ct))
        assert np.shares_memory(S, als._ANN_SCRATCH)
    buf = als._ANN_SCRATCH
    assert buf.shape == (als._ANN_CHUNK, 600)
    # the same M reuses the buffer (warm pages)
    S = als._score_chunk(U[:7], Ct)
    assert als._ANN_SCRATCH is buf
    assert np.shares_memory(S, buf)
