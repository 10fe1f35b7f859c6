"""Compressed sparse rows: the adjacency layout of the iteration kernels
below a byte cap — the NSW beam walks (``similarity.py``) and the rank
family (``graph.py``). Each kernel collects one edge relation to the
driver and indexes it here, once per session and source content
(``catalog.session_artifact``). The NSW walks broadcast the arrays and
iterate inside one Arrow stage; the rank walk keeps them on the driver
and iterates there, so it starts no Python task. Above its byte cap the
kernel's join loop stands instead."""

from __future__ import annotations

import numpy as np


def csr(rows: np.ndarray, n_rows: int, *cols: np.ndarray) -> tuple[np.ndarray, ...]:
    """``(indptr, *cols)`` with the entries of every column of ``cols``
    grouped by their row position ``rows`` (int64 in ``[0, n_rows)``):
    the entries of row ``r`` are ``col[indptr[r]:indptr[r + 1]]``, in
    their input order."""
    order = np.argsort(rows, kind="stable")
    indptr = np.zeros(n_rows + 1, dtype="int64")
    np.cumsum(np.bincount(rows, minlength=n_rows), out=indptr[1:])
    return (indptr, *(c[order] for c in cols))
