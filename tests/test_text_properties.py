"""Hypothesis property tests for the text-pipeline operators.

Random-input invariants that hand-picked cases can miss: normalize
is idempotent and length-non-increasing on arbitrary unicode; the
chunker covers every token exactly against a Python reference for
random (text, size, overlap); hash_embed is deterministic and its
non-zero vectors unit-norm.  Example counts are small because every
example round-trips through Spark.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import fuzz_budget

_SETTINGS = dict(
    max_examples=fuzz_budget(12, 5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_TEXT = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",),  # no lone surrogates
        max_codepoint=0x2FFF,
    ),
    max_size=200,
)


@settings(**_SETTINGS)
@given(texts=st.lists(_TEXT, min_size=1, max_size=5))
def test_normalize_idempotent_and_shrinking(spark, texts):
    from semantic_olap_spark.functions.cleaning import normalize_text

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    once = {r["doc_id"]: r["text"] for r in normalize_text(df).collect()}
    twice = {
        r["doc_id"]: r["text"]
        for r in normalize_text(normalize_text(df)).collect()
    }
    assert once == twice
    for i, t in enumerate(texts):
        assert len(once[i]) <= len(t)
        assert once[i] == once[i].strip()
        assert "  " not in once[i]


@settings(**_SETTINGS)
@given(
    data=st.data(),
    n_tokens=st.integers(min_value=0, max_value=60),
    size=st.integers(min_value=1, max_value=12),
)
def test_chunker_matches_reference_on_random_shapes(
    spark, data, n_tokens, size
):
    from semantic_olap_spark.functions.packing import chunk_documents
    from tests.test_retrieval_chunking import _py_chunks

    overlap = data.draw(st.integers(min_value=0, max_value=size - 1))
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(0, text)], "doc_id INT, text STRING")
    got = [
        (r["chunk_id"], r["chunk"])
        for r in chunk_documents(df, size, overlap)
        .orderBy("chunk_id")
        .collect()
    ]
    want = list(enumerate(_py_chunks(text, size, overlap)))
    assert got == want


@settings(**_SETTINGS)
@given(texts=st.lists(_TEXT, min_size=1, max_size=4))
def test_hash_embed_unit_norm_or_zero(spark, texts):
    from semantic_olap_spark.functions.text import hash_embed

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    out = {
        r["doc_id"]: r["embedding"]
        for r in hash_embed(df, dim=8).collect()
    }
    # "blank" per the engine contract = Java \s (ASCII) whitespace:
    # exactly [ \t\n\x0b\f\r].  Python's \s/str.strip() additionally
    # treats NEL/NBSP ('\x85') and the FS..US separators
    # ('\x1c'..'\x1f') as whitespace; the JVM tokenizer does NOT —
    # both divergences were found by hypothesis ('\x85' first,
    # '\x1f' later when this constant wrongly included the
    # separator block)
    java_ws = " \t\n\x0b\x0c\r"
    for i, t in enumerate(texts):
        vec = out[i]
        n2 = sum(x * x for x in vec)
        if t.strip(java_ws):
            # either all buckets cancelled (zero vector) or unit norm
            assert n2 == 0 or abs(n2 - 1.0) < 1e-4
        else:
            assert vec == [0.0] * 8
