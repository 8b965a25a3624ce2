"""The vectorized build tokenizer must emit EXACTLY the postings rows of
the single-node oracle (VERDICT r1 #3: bit-identical postings)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sphinxsearchengine_spark.index.builder import _batch_postings_columns

from oracle_rows import POSTING_COLS, oracle_postings


def _rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """`_batch_postings_columns` as postings rows, the shared position
    blob sliced per posting by its pos_len, sorted like the oracle's."""
    out = _batch_postings_columns(pdf)
    ends = np.cumsum(out["pos_len"])
    starts = ends - out["pos_len"]
    blob = out["pos_blob"]
    rows = pd.DataFrame({
        **{c: out[c] for c in POSTING_COLS if c != "pos_vb"},
        "pos_vb": [blob[a:b] for a, b in zip(starts.tolist(), ends.tolist())],
    })[POSTING_COLS]
    return rows.sort_values(["term", "field", "docid"]).reset_index(drop=True)


def _assert_equals_oracle(pdf: pd.DataFrame) -> None:
    got, want = _rows(pdf), oracle_postings(pdf)
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want)


def _doc_batch(rows) -> pd.DataFrame:
    return pd.DataFrame(
        rows,
        columns=[
            "docid", "path", "lang", "content", "category_search",
            "date_insert", "date_modify",
        ],
    )


def test_vectorized_equals_reference_on_corpus(spark):
    from sphinxsearchengine_spark.corpus import derive_documents, generate_corpus

    docs = derive_documents(generate_corpus(spark, 250, partitions=2)).select(
        "docid", "path", "lang", "content", "category_search",
        "date_insert", "date_modify",
    )
    _assert_equals_oracle(docs.toPandas())


@pytest.mark.parametrize(
    "text",
    [
        "",                                  # empty field
        "x y z",                             # all sub-min-length
        "foo_bar baz -dash- a_b_c __cat__",  # blends incl. edge blends
        "Running Searches ПОИСК Запросы",    # stems + Cyrillic fold
        "foo_ba foo_ba foo-ba $x @y",        # repeats + short blends
        "a1-b2&c3+d4@e5$f6_g7",              # every blend char
        "café café résumé",  # T7: NFC + NFD spellings
    ],
)
def test_vectorized_equals_reference_edge_cases(text):
    rows = [
        (1, "src/p.py", "python", text, "__cat__ __python__", 100, 200),
        (2, "", "go", "plain words only here", "", 300, 400),
    ]
    _assert_equals_oracle(_doc_batch(rows))


def test_vectorized_empty_batch():
    pdf = _doc_batch([])
    assert len(_rows(pdf)) == 0
    assert len(oracle_postings(pdf)) == 0
