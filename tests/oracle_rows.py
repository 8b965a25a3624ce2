"""Postings rows derived from the single-node oracle, the reference the
builder's tokenizer and index files are checked against."""

from __future__ import annotations

import numpy as np
import pandas as pd

from sphinxsearchengine_spark import codec
from sphinxsearchengine_spark.oracle import OracleEngine

POSTING_COLS = ["term", "field", "docid", "tf", "exact_tf",
                "pos_vb", "lang", "date_insert", "date_modify"]


def oracle_postings(docs: pd.DataFrame) -> pd.DataFrame:
    """`OracleEngine(docs).postings` flattened into postings rows
    (positions delta + varbyte encoded, as the index stores them),
    sorted by (term, field, docid)."""
    oracle = OracleEngine(docs)
    rows = []
    for term, by_doc in oracle.postings.items():
        for docid, by_field in by_doc.items():
            attrs = oracle.attrs[docid]
            for field, (tf, positions, etf) in by_field.items():
                rows.append((term, field, docid, tf, etf,
                             codec.delta_encode_small(positions),
                             attrs["lang"], attrs["date_insert"],
                             attrs["date_modify"]))
    out = pd.DataFrame(rows, columns=POSTING_COLS)
    out = out.astype({"field": np.int32, "docid": np.int64, "tf": np.int32,
                      "exact_tf": np.int32, "date_insert": np.int64,
                      "date_modify": np.int64})
    return out.sort_values(["term", "field", "docid"]).reset_index(drop=True)


def rollups(post: pd.DataFrame, block_shift: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(blockmax, dict) rows of postings rows, by pandas: per
    (term, docid), then per (term, blk = docid >>> block_shift), then
    per term.  Sorted by their keys, without the bucket column."""
    p = post.assign(
        fbit=np.int64(1) << post["field"].astype(np.int64),
        dsum=post["date_insert"] + post["date_modify"],
    )
    # a (term, docid) has one row per field, so its field bits add up to
    # their OR
    per_doc = p.groupby(["term", "docid"], as_index=False).agg(
        tfd=("tf", "sum"), etfd=("exact_tf", "sum"), fmask=("fbit", "sum"),
        dsum=("dsum", "max"))
    per_doc["blk"] = (per_doc["docid"].to_numpy().astype(np.uint64)
                      >> np.uint64(block_shift)).astype(np.int64)
    per_doc["has_exact"] = per_doc["etfd"] > 0
    bmx = per_doc.groupby(["term", "blk"], as_index=False).agg(
        n=("docid", "size"), hits=("tfd", "sum"), max_tf=("tfd", "max"),
        n_exact=("has_exact", "sum"), sum_etf=("etfd", "sum"),
        max_etf=("etfd", "max"),
        fmask=("fmask", lambda s: np.bitwise_or.reduce(s.to_numpy())),
        max_dsum=("dsum", "max"))
    dic = bmx.groupby("term", as_index=False).agg(
        df=("n", "sum"), hits=("hits", "sum"), max_tf=("max_tf", "max"),
        exact_df=("n_exact", "sum"), exact_hits=("sum_etf", "sum"))

    def ints(df):
        return df.astype({c: np.int64 for c in df.columns if c != "term"})

    return ints(bmx), ints(dic)
