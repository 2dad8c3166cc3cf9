"""Token codec: the one decode path (``with_content`` /
``decode_tokens_utf8``) matches the Python oracle and an Arrow-batched pandas
reference decode; encode round-trips exactly (the per-row
token-array-equality invariant depends on this)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from loongcollector_spark.codec import (
    decode_tokens_utf8,
    encode_string_pandas,
    with_content,
)
from loongcollector_spark.oracle import decode as py_decode


@pandas_udf(T.StringType())
def _decode_pandas_reference(tokens: pd.Series) -> pd.Series:
    """Reference decode: per-row ``bytes.decode`` in an Arrow-batched UDF."""
    return tokens.map(lambda t: bytes(bytearray(int(x) & 0xFF for x in t)).decode("utf-8", "replace"))


def test_decode_matches_python(seq_df):
    """Every corpus row, plain and strict, equals the Python oracle decode."""
    d = with_content(seq_df).withColumn("strict", decode_tokens_utf8("tokens", strict=True))
    bad = [
        r["doc_id"]
        for r in d.select("doc_id", "tokens", "content", "strict").collect()
        if not r["content"] == r["strict"] == py_decode(r["tokens"])
    ]
    assert not bad, bad[:5]


def test_utf8_hybrid_matches_pandas_on_corpus(seq_df):
    d = seq_df.withColumn("c1", decode_tokens_utf8("tokens")).withColumn(
        "c2", _decode_pandas_reference(F.col("tokens"))
    )
    assert d.filter(F.col("c1") != F.col("c2")).count() == 0


def test_utf8_hybrid_non_ascii(spark):
    """The default decode must be exact on multi-byte UTF-8 (where the bare
    char() path emits per-byte Latin-1 codepoints instead)."""
    samples = [
        "plain ascii line",
        "Hi é€",  # 2- and 3-byte sequences
        "汉字 log 行",  # CJK
        "emoji \U0001f600 tail",  # 4-byte sequence
        "",
    ]
    df = spark.createDataFrame(
        [(list(s.encode("utf-8")),) for s in samples] + [(None,)],
        "tokens array<int>",
    )
    got = [r.c for r in df.withColumn("c", decode_tokens_utf8("tokens")).collect()]
    assert got == samples + [None]
    # with_content attaches the same decode, with or without the strict guard
    for strict in (False, True):
        got2 = [r.content for r in with_content(df, strict=strict).collect()]
        assert got2 == samples + [None]


def test_utf8_hybrid_stays_jvm_side(seq_df):
    """Plan shape: the default decode must not introduce a Python/Arrow eval
    node — the flagship's decode stage rides whole-stage codegen."""
    plan = with_content(seq_df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInArrow" not in plan


def test_round_trip(seq_df):
    d = (
        with_content(seq_df)
        .withColumn("t2", encode_string_pandas(F.col("content")))
        .filter(F.col("t2") != F.col("tokens"))
    )
    assert d.count() == 0


def test_utf8_strict_contract(spark):
    """strict=True fails loudly on tokens outside [0,255] (ADVICE r4: the
    default path silently mangles them — lpad truncation / char wraparound);
    in-contract rows still decode identically with the guard on."""
    import pytest

    ok = spark.createDataFrame(
        [([104, 105],), ([195, 169],)], "tokens array<int>"
    )
    got = [r.c for r in ok.withColumn("c", decode_tokens_utf8("tokens", strict=True)).collect()]
    assert got == ["hi", "é"]
    bad = spark.createDataFrame([([104, 300],)], "tokens array<int>")
    with pytest.raises(Exception, match="byte contract"):
        bad.withColumn("c", decode_tokens_utf8("tokens", strict=True)).collect()
    with pytest.raises(Exception, match="byte contract"):
        with_content(bad, strict=True).collect()
    # the documented non-strict hazard: same row silently decodes to garbage
    assert bad.withColumn("c", decode_tokens_utf8("tokens")).collect()[0].c is not None


def test_strict_decode_flags_null_tokens(spark):
    # (t < 0) | (t > 255) is NULL for a NULL element and F.filter drops it —
    # without the explicit isNull() check a null token passed the strict gate
    # and then vanished silently in array_join.
    import pytest
    from pyspark.sql import functions as F
    from loongcollector_spark.codec import decode_tokens_utf8

    df = spark.createDataFrame([([104, None, 105],)], "tokens array<int>")
    with pytest.raises(Exception, match="byte contract"):
        df.select(decode_tokens_utf8(F.col("tokens"), strict=True)).collect()
