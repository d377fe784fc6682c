"""Token codec: tokens array<int32> <-> log-line body string.

Per BASELINE.json input_hint the pipeline input is pre-tokenized training
sequences ``(doc_id, tokens: array<int32>, n_tok, source)``.  The decode
step stands in for a real tokenizer's detokenize (the pdata ``Body`` the
stanza file_input receiver would have read, receiver/stanzareceiver/
converter.go:59).  We use a deterministic, exactly-invertible codepoint
vocabulary (token id == Unicode codepoint, vocab-bounded), so:

- decode is a vectorized Arrow-batched pandas UDF (no per-row Python in
  the Spark plan),
- the DuckDB oracle can decode independently with
  ``array_to_string(list_transform(tokens, t -> chr(t)), '')``,
- the per-row invariant (token-array equality through every stage) is
  byte-checkable.

The invariant: *no operator ever rewrites ``tokens``* — parse/enrich/route
add columns; ``tokens`` flows through untouched.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: DuckDB-side equivalent of the decode UDF (oracle use).  `{col}` is the
#: tokens column SQL.
DECODE_SQL_DUCKDB = "array_to_string(list_transform({col}, t -> chr(t)), '')"


def encode_text(text: str) -> list[int]:
    """Driver/datagen-side encode (one-shot, not in the Spark plan)."""
    return [ord(c) for c in text]


def decode_batch(tokens: pd.Series) -> pd.Series:
    """Bulk detokenize one Arrow batch: array<int32> -> body strings.

    Fast path for the ASCII/latin-1 vocab: flatten every row's tokens
    into ONE numpy buffer, decode once, slice per row — no per-token
    Python.  Falls back to per-row chr-join for wide (>255) codepoints.
    """
    import numpy as np
    if len(tokens) == 0:
        return pd.Series([], dtype="object")
    arrs = tokens.to_numpy()
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
    total = int(lens.sum())
    if total == 0:
        return pd.Series([""] * len(arrs))
    flat = np.concatenate([np.asarray(a) for a in arrs])
    if flat.max() > 255:                      # wide-vocab fallback
        return tokens.map(lambda arr: "".join(map(chr, arr)))
    s = flat.astype(np.uint8).tobytes().decode("latin1")
    offs = np.empty(len(arrs) + 1, dtype=np.int64)
    offs[0] = 0
    np.cumsum(lens, out=offs[1:])
    return pd.Series([s[offs[i]:offs[i + 1]] for i in range(len(arrs))])


def decode_arrow(la) -> "object":
    """Detokenize ONE Arrow ListArray(int) -> StringArray with zero
    per-row Python: the list offsets become the string offsets verbatim
    and the token values cast to a uint8 byte buffer (our vocab is the
    codepoint itself).  Falls back to per-row chr-join for wide (>255)
    vocabs, where a byte buffer can't represent the string."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    n = len(la)
    if n == 0:
        return pa.array([], pa.string())

    def slow(la):
        return pa.array(
            ["".join(map(chr, row)) if row is not None else None
             for row in la.to_pylist()], pa.string())

    if la.null_count:
        # null rows: the buffer path would turn them into '' — keep the
        # NULL semantics of the fallback instead (nulls are rare here)
        return slow(la)
    flat = la.flatten()
    try:
        u8 = flat.cast(pa.uint8())
    except pa.ArrowInvalid:                    # wide-vocab fallback
        return slow(la)
    lens = pc.list_value_length(la).cast(pa.int64()) \
        .to_numpy(zero_copy_only=False)
    offs64 = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs64[1:])
    if offs64[-1] > np.iinfo(np.int32).max:
        # int32 string offsets would silently wrap — the same bug class
        # fixed in datagen; a >2 GiB batch means maxRecordsPerBatch is
        # mis-sized, fall back to the slow-but-correct path
        return slow(la)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offs64.astype(np.int32).tobytes()),
        pa.py_buffer(u8.to_numpy(zero_copy_only=False).tobytes()))


@F.pandas_udf(T.StringType())
def decode_tokens_udf(tokens: pd.Series) -> pd.Series:
    """Vectorized detokenize UDF: array<int32> -> body string.

    Arrow hands the column over as a Series of numpy int32 arrays;
    decode_batch processes the whole batch in numpy — no Spark-row-at-
    a-time Python serde (the UDF boundary is one Arrow batch,
    spark.sql.execution.arrow.maxRecordsPerBatch).
    """
    return decode_batch(tokens)
