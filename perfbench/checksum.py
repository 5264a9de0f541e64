"""Order-independent checksum over every column of a result frame."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def _canon(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v.item() if isinstance(v, np.generic) else v


def frame_checksum(pdf: pd.DataFrame) -> str:
    """Columns in name order, each row hashed from the repr of its values,
    row hashes summed modulo 2**64: row order does not matter, every value
    of every column does, and a row repeated is counted twice."""
    cols = sorted(pdf.columns)
    acc = 0
    for row in pdf[cols].itertuples(index=False, name=None):
        digest = hashlib.sha1(repr(tuple(_canon(v) for v in row)).encode()).digest()
        acc = (acc + int.from_bytes(digest[:8], "little")) % (1 << 64)
    return f"{','.join(cols)}|{len(pdf)}|{acc:016x}"
