"""Token <-> string codec.

Tokens are byte values (bijective byte-level tokenization, FIXTURES.md §1).
There is one decode path, ``decode_tokens_utf8`` (attached by
``with_content``): pure Catalyst and UTF-8-correct. An
``exists(tokens, t -> t > 127)`` guard routes each row to the cheap
``transform``+``char`` join (ASCII: byte == codepoint) or, for the rare
non-ASCII row, to ``decode(to_binary(hex-join), 'UTF-8')``. No Python hop:
the whole plan stays in one WholeStageCodegen span. Measured on the 600k-row
flagship blackhole (local[32], sf0.1) it ran 3.3s stable against 4.35s best
and a 4–37s spread for a ``mapInArrow`` decode, which round-trips every
column (the token arrays included) through Python workers and splits
codegen.

Encode (string → tokens) exists for round-trip verification of the per-row
token-array-equality invariant.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T


def decode_tokens_utf8(tokens: Column | str, strict: bool = False) -> Column:
    """array<int> byte-tokens → string, JVM-only AND UTF-8-correct.

    Per-row dispatch: all-ASCII rows (the overwhelming majority in log
    payloads) take the ``char``-join fast path; rows with any byte > 127 are
    reassembled exactly via hex → ``to_binary`` → ``decode(…, 'UTF-8')`` so
    multi-byte sequences decode correctly (plain ``char`` would emit the
    Latin-1 codepoint per byte). Both branches are native Catalyst — no
    Python worker, no Arrow round-trip, one codegen span.

    CONTRACT: tokens are byte values in [0, 255] (bijective byte-level
    tokenization, FIXTURES.md §1). Out-of-contract tokens do NOT decode
    meaningfully on either branch (``char`` wraps the codepoint; ``hex`` of
    t > 255 is 3+ digits and ``lpad(…, 2)`` TRUNCATES it — ADVICE r4). Pass
    ``strict=True`` to fail loudly instead: one extra ``exists`` pass per
    row raises on the first token outside [0, 255]. Default stays off — the
    flagship's inputs are contract-guaranteed by the synthesizer and the
    extra pass is pure overhead there; turn it on at ingest boundaries where
    the tokenizer is not trusted.
    """
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    ascii_fast = F.array_join(F.transform(col, F.char), "")
    hex_exact = F.decode(
        F.to_binary(
            F.array_join(F.transform(col, lambda t: F.lpad(F.hex(t), 2, "0")), ""),
            F.lit("hex"),
        ),
        "UTF-8",
    )
    out = F.when(F.exists(col, lambda t: t > F.lit(127)), hex_exact).otherwise(ascii_fast)
    if strict:
        # isNull() is explicit: (t < 0) | (t > 255) evaluates to NULL for a
        # NULL element, which F.filter DROPS — a null token would pass the
        # strict gate and then vanish silently in array_join, the exact
        # silent mangling strict mode exists to prevent.
        bad = F.filter(
            col, lambda t: t.isNull() | (t < F.lit(0)) | (t > F.lit(255))
        )
        out = F.when(
            F.size(bad) > 0,
            F.raise_error(
                F.concat(
                    F.lit("decode_tokens_utf8: token outside the byte contract [0,255]: "),
                    F.array_join(
                        F.transform(
                            F.slice(bad, 1, 3),
                            lambda t: F.coalesce(t.cast("string"), F.lit("NULL")),
                        ),
                        ",",
                    ),
                )
            ).cast("string"),
        ).otherwise(out)
    return out


@pandas_udf(T.ArrayType(T.IntegerType()))
def encode_string_pandas(s: pd.Series) -> pd.Series:
    """string → byte-token array (inverse of decode; used in round-trip tests)."""
    return s.map(lambda v: list(v.encode("utf-8")) if v is not None else None)


def with_content(df, tokens_col: str = "tokens", out: str = "content", strict: bool = False):
    """Attach the decoded payload column ``out``, keeping ``tokens`` untouched.

    ``strict`` raises on tokens outside the [0,255] byte contract instead of
    decoding them to garbage (see ``decode_tokens_utf8``).
    """
    return df.withColumn(out, decode_tokens_utf8(tokens_col, strict=strict))
