"""Single-node pure-Python reference engine (SURVEY.md §5.3).

Implements the SAME semantics as the distributed executor — same
tokenizer (sphinxsearchengine_spark.text), same ranking math
(sphinxsearchengine_spark.query.ranker), same expansion rules — over
in-memory dicts.  The north rule's rank-identity criterion ("top-k docids
AND scores match the reference") is tested engine-vs-oracle: both derive
from the documented Sphinx contract (sphinx.conf:15-20 +
SphinxSearchEngine_class.php:113,284-303), and any drift between the two
implementations is a test failure.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd

from sphinxsearchengine_spark.config import (
    BM25_K1,
    EXACT_PREFIX,
    FIELD_NAMES,
    FIELD_WEIGHTS,
    FIELDS,
    MATCH_CAP,
)
from sphinxsearchengine_spark.query import ranker
from sphinxsearchengine_spark.query.parser import Query, parse_query
from sphinxsearchengine_spark.text.tokenizer import index_terms, stem_token

_FIELD_SOURCE = {"text": "content", "title": "path", "category_search": "category_search"}


class OracleEngine:
    def __init__(self, documents: pd.DataFrame):
        """documents: pandas with docid, path, lang, content,
        category_search, date_insert, date_modify (derived corpus)."""
        from sphinxsearchengine_spark.text.tokenizer import tokenize

        # term -> docid -> field -> (tf, positions, exact_tf)
        # (exact-merged rows, mirroring index.builder._batch_postings_columns)
        self.postings: dict[str, dict[int, dict[int, tuple]]] = (
            defaultdict(lambda: defaultdict(dict))
        )
        self.attrs: dict[int, dict] = {}
        for row in documents.itertuples(index=False):
            docid = int(row.docid)
            self.attrs[docid] = {
                "lang": row.lang,
                "date_insert": int(row.date_insert),
                "date_modify": int(row.date_modify),
            }
            for fname in FIELD_NAMES:
                text = getattr(row, _FIELD_SOURCE[fname])
                if not text:
                    continue
                fid = FIELDS[fname]
                acc: dict[str, list] = {}
                for pos, forms in tokenize(text):
                    seen: set[str] = set()
                    for raw in forms:
                        stem = stem_token(raw)
                        if stem not in seen:
                            seen.add(stem)
                            slot = acc.setdefault(stem, [[], 0])
                            slot[0].append(pos)
                            if raw == stem:
                                slot[1] += 1
                        if stem != raw:
                            ex = EXACT_PREFIX + raw
                            if ex not in seen:
                                seen.add(ex)
                                slot = acc.setdefault(ex, [[], 0])
                                slot[0].append(pos)
                                slot[1] += 1
                for term, (positions, etf) in acc.items():
                    self.postings[term][docid][fid] = (len(positions), positions, etf)
        self.n_docs = len(self.attrs)

    def _df(self, term: str, exact: bool = False) -> int:
        docs = self.postings.get(term, {})
        if not exact:
            return len(docs)
        return sum(
            1 for fields in docs.values()
            if any(etf > 0 for _tf, _p, etf in fields.values())
        )

    # -- expansion (mirror executor._expand_groups) -----------------------
    def _mapping(self, query: Query) -> list[tuple]:
        nk = len(query.groups)
        mapping: list[tuple] = []

        def add(term, gid, is_pm, midx, fld, uex=0, pid=-1):
            if term in self.postings:
                df = self._df(term, exact=bool(uex))
                if df <= 0:
                    return
                mapping.append(
                    (term, gid, ranker.idf(df, self.n_docs, nk), is_pm, midx,
                     fld, uex, pid)
                )

        def add_exact(w, gid, fld):
            s = stem_token(w)
            if s == w:
                add(w, gid, 0, -1, fld, uex=1)
            else:
                add(EXACT_PREFIX + w, gid, 0, -1, fld, uex=0)

        all_terms = list(self.postings.keys())

        def prefix_expand(w: str, exclude: set[str]) -> list[str]:
            # mirror executor: EXPANSION_LIMIT most-frequent, term-asc ties
            from sphinxsearchengine_spark.config import EXPANSION_LIMIT

            cand = [
                t for t in all_terms
                if t.startswith(w)
                and not t.startswith(EXACT_PREFIX)
                and t not in exclude
            ]
            cand.sort(key=lambda t: (-len(self.postings[t]), t))
            return cand[:EXPANSION_LIMIT]

        for gid, g in enumerate(query.groups):
            pid = 0
            for a in g.alts:
                if a.kind == "kw":
                    w = a.words[0]
                    seen = {stem_token(w)}
                    add(stem_token(w), gid, 0, -1, g.field)
                    add_exact(w, gid, g.field)
                    for t in prefix_expand(w, seen):
                        add(t, gid, 0, -1, g.field)
                elif a.kind == "exact":
                    add_exact(a.words[0], gid, g.field)
                elif a.kind == "prefix":
                    for t in prefix_expand(a.words[0], set()):
                        add(t, gid, 0, -1, g.field)
                else:
                    for i, w in enumerate(a.words):
                        add(stem_token(w), gid, 1, i, g.field, pid=pid)
                    pid += 1
        return mapping

    def score_matches(
        self, query: Query | str, langs=None, now_ts: int = 0,
        categories: list[str] | None = None,
    ) -> list[dict]:
        if isinstance(query, str):
            query = parse_query(query)
        if query.blank or not query.groups:
            return []
        max_score_val = None
        if categories:
            from sphinxsearchengine_spark.query.parser import with_categories

            base_n = len(query.groups)
            query = with_categories(query, categories)
            max_score_val = ranker.max_score(base_n, n_categories=len(categories))
        n_groups = len(query.groups)
        mapping = self._mapping(query)
        if {m[1] for m in mapping} != set(range(n_groups)):
            return []
        phrase_alts: dict[int, dict[int, int]] = {}
        for gid, g in enumerate(query.groups):
            pc = 0
            for a in g.alts:
                if a.kind == "phrase":
                    phrase_alts.setdefault(gid, {})[pc] = len(a.words)
                    pc += 1
        weights_by_fid = [FIELD_WEIGHTS[n] for n in FIELD_NAMES]
        ms_norm = (
            max_score_val if max_score_val is not None
            else ranker.max_score(n_groups)
        )

        # candidate docs
        cand: set[int] = set()
        for term, gid, _idf, _pm, _mi, fld, _uex, _pid in mapping:
            for docid, fields in self.postings[term].items():
                if langs and self.attrs[docid]["lang"] not in langs:
                    continue
                if fld == -1 or fld in fields:
                    cand.add(docid)

        results = []
        for docid in cand:
            a = self.attrs[docid]
            if langs and a["lang"] not in langs:
                continue
            # per (gid, term) doc-level tf (field-restricted)
            bm25_raw = 0.0
            matched_nonphrase: set[int] = set()
            # gid -> field -> positions (union over terms / phrase starts)
            gf_pos: dict[int, dict[int, set]] = defaultdict(lambda: defaultdict(set))
            # gid -> pid -> field -> midx -> positions
            pm_pos: dict[int, dict[int, dict[int, dict[int, set]]]] = defaultdict(
                lambda: defaultdict(lambda: defaultdict(dict))
            )
            for term, gid, idf_t, is_pm, midx, fld, uex, pid in mapping:
                doc_fields = self.postings[term].get(docid)
                if not doc_fields:
                    continue
                tfd = 0
                for fid, (tf, positions, etf) in doc_fields.items():
                    if fld != -1 and fid != fld:
                        continue
                    eff = etf if uex else tf
                    if eff <= 0:
                        continue
                    tfd += eff
                    if is_pm:
                        pm_pos[gid][pid][fid].setdefault(midx, set()).update(positions)
                    else:
                        gf_pos[gid][fid].update(positions)
                if tfd > 0:
                    bm25_raw += ranker.bm25_term(idf_t, tfd, BM25_K1)
                    if not is_pm:
                        matched_nonphrase.add(gid)
            need = set(range(n_groups)) - set(phrase_alts)
            if not need <= matched_nonphrase:
                continue
            # phrase validation + phrase positions: a group with phrase
            # alternatives is satisfied by a kw alternative OR any
            # validated phrase alternative (OR semantics, ADVICE r1)
            ok = True
            for gid, pids in phrase_alts.items():
                found = gid in matched_nonphrase
                for pid, nmem in pids.items():
                    for fid, slot in pm_pos[gid][pid].items():
                        if len(slot) < nmem:
                            continue
                        starts = set(slot.get(0, set()))
                        for mi in range(1, nmem):
                            starts = {
                                p for p in starts if (p + mi) in slot.get(mi, set())
                            }
                            if not starts:
                                break
                        if starts:
                            gf_pos[gid][fid].update(starts)
                            found = True
                if not found:
                    ok = False
                    break
            if not ok:
                continue
            # LCS proximity
            wsum = 0.0
            fields_present = {f for gf in gf_pos.values() for f in gf}
            for fid in fields_present:
                per_group = {
                    g: sorted(gf[fid]) for g, gf in gf_pos.items() if fid in gf and gf[fid]
                }
                wsum += weights_by_fid[fid] * ranker.lcs_of_field(per_group, n_groups)
            prox = ranker.proximity_score(wsum, n_groups)
            bm = ranker.bm25_scale(bm25_raw)
            fresh = ranker.freshness(now_ts, a["date_insert"], a["date_modify"])
            raw = prox + bm + fresh
            results.append(
                {
                    "docid": docid,
                    "weight_raw": raw,
                    "score": raw / ms_norm,
                    "bm25": bm,
                    "prox": prox,
                    "fresh": fresh,
                    "lang": a["lang"],
                    "date_insert": a["date_insert"],
                    "date_modify": a["date_modify"],
                }
            )
        return results

    def search(
        self,
        query,
        limit: int = 20,
        offset: int = 0,
        langs=None,
        order_by: str = "weight",
        sort: str = "desc",
        now_ts: int = 0,
        categories: list[str] | None = None,
    ) -> list[dict]:
        limit = min(limit, MATCH_CAP)
        res = self.score_matches(query, langs, now_ts, categories)
        key = {"weight": "weight_raw", "date_insert": "date_insert",
               "date_modify": "date_modify"}.get(order_by, "weight_raw")
        rev = sort == "desc"
        res.sort(key=lambda r: ((-r[key]) if rev else r[key], r["docid"]))
        out = res[offset : offset + limit]
        for i, r in enumerate(out):
            r["rank"] = offset + i + 1
        return out
