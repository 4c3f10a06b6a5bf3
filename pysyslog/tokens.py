"""Token-array ⇄ raw-line codec (BASELINE.json input_hint).

The pipeline input is an Iceberg/parquet table of pre-tokenized lines:
(doc_id string, tokens array<int32>, n_tok int32, source string) where
tokens are the UTF-8 byte values of the raw syslog line.

Input contract: every element is a byte 0–255 and each array is valid
UTF-8.  Invalid UTF-8 fails the task (decoding is strict).  A null or
out-of-range element is counted by `lossy`; the row still parses only
if the wrapped bytes are valid UTF-8 (384 wraps to 0x80, a lone
continuation byte, and fails the task).

This module is the only place tokens become text (`decode_batch`: the
fused parse UDF and `detokenize`) or text becomes tokens
(`encode_line`: `retokenize` and `gen.gen_tokens_df`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType


def decode_batch(tokens: pd.Series) -> pd.Series:
    """Token arrays -> lines; a null array decodes to None."""
    return pd.Series(
        [
            None if a is None
            else np.asarray(a, dtype=np.uint8).tobytes().decode("utf-8", "strict")
            for a in tokens
        ],
        index=tokens.index,
        dtype=object,
    )


def encode_line(s: str | None):
    """Line -> int32 token array; None encodes to None."""
    if s is None:
        return None
    return np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.int32)


def detokenize(df, tokens_col: str = "tokens", out_col: str = "raw"):
    """tokens array<int32> -> raw line string column."""
    from pyspark.sql.functions import pandas_udf

    udf = pandas_udf(decode_batch, StringType())
    return df.withColumn(out_col, udf(F.col(tokens_col)))


def retokenize(df, raw_col: str = "raw", out_col: str = "tokens_rt"):
    """raw line string -> tokens array<int32> (round-trip verification)."""
    from pyspark.sql.functions import pandas_udf

    udf = pandas_udf(lambda s: s.map(encode_line), ArrayType(IntegerType()))
    return df.withColumn(out_col, udf(F.col(raw_col)))


def lossy() -> Column:
    """JVM predicate on the `tokens` column: true for rows whose tokens
    do not survive the round trip retokenize(detokenize(t)) == t.

    It is exact.  Strict UTF-8 decoding is injective and encoding
    inverts it, so the only step that can lose information is the
    uint8 cast before decoding: a null element or an element outside
    0–255.  (Arrow hands the decoder a null element as NaN in a float
    array; numpy casts that to 0 here, but the NaN and float-overflow
    casts are platform-dependent, so the exact byte is not guaranteed.)
    Arrays that are not valid UTF-8 never reach a comparison: decoding
    them raises.  `roundtrip_violations` is the literal reference."""
    return F.exists(F.col("tokens"),
                    lambda t: t.isNull() | (t < 0) | (t > 255))


def roundtrip_violations(df, tokens_col: str = "tokens", raw_col: str = "raw"):
    """DataFrame of rows violating the token-array equality invariant.
    The comparison itself is a JVM-side array equality (no shuffle)."""
    rt = retokenize(df, raw_col=raw_col, out_col="__tokens_rt")
    return rt.filter(~(F.col(tokens_col) == F.col("__tokens_rt"))).drop("__tokens_rt")
