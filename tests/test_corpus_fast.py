"""Equality oracle for the r6 vectorized corpus generator.

The bench index_build cell regenerates the corpus inside the timed
region, so the generator was rewritten from ~210 scalar
RandomState.randint calls per doc to a batch-vectorized MT19937 +
masked-rejection draw machine (corpus.py).  The workload MUST stay
byte-identical — these tests pin the fast path to the kept
reference-semantics twin below (`_gen_batch_ref` / `_doc_content_ref`:
per-draw scalar RandomState calls) and the underlying stream model to
numpy itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from sphinxsearchengine_spark import corpus as C


def _doc_content_ref(rng: np.random.RandomState, i: int) -> str:
    n = 40 + int(rng.randint(0, 160))
    words = []
    for _ in range(n):
        r = rng.randint(0, 100)
        if r < 55:
            words.append(C.EN_WORDS[rng.randint(0, len(C.EN_WORDS))])
        elif r < 70:
            words.append(C.RU_WORDS[rng.randint(0, len(C.RU_WORDS))])
        elif r < 85:
            blend = C.BLENDS[rng.randint(0, len(C.BLENDS))]
            words.append(
                C.IDENT_HEADS[rng.randint(0, len(C.IDENT_HEADS))]
                + blend
                + C.IDENT_TAILS[rng.randint(0, len(C.IDENT_TAILS))]
            )
        elif r < 92:
            words.append("xyzq"[rng.randint(0, 4)])  # 1-char droppables
        else:
            words.append(str(rng.randint(0, 9999)))
    if i == 0:
        words.insert(int(rng.randint(0, len(words))), "needleuniq")
    if rng.randint(0, 2) == 0:
        words.insert(int(rng.randint(0, len(words))), "hotterm")
    if rng.randint(0, 4) == 0:
        k = int(rng.randint(0, len(words)))
        words[k:k] = ["alpha", "beta"]
    return " ".join(words)


def _gen_batch_ref(pdf_iter):
    """Reference-semantics generator twin (per-draw scalar RandomState
    calls): the equality oracle of the vectorized `corpus._gen_batch`,
    which must emit byte-identical rows."""
    for pdf in pdf_iter:
        rows = []
        for i in pdf["id"].to_numpy():
            rng = np.random.RandomState(C.SEED + int(i))
            repo = f"org{i % 7}/repo{i % 50}"
            lang = C.LANGS[int(i) % len(C.LANGS)]
            path = f"src/mod{i % 13}/file_{i}.{lang[:2]}"
            commit = "".join("0123456789abcdef"[b % 16] for b in rng.randint(0, 256, 40))
            rows.append((repo, path, commit, lang, _doc_content_ref(rng, int(i))))
        yield pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def _run(gen, ids):
    return list(gen(iter([pd.DataFrame({"id": np.asarray(ids)})])))[0]


def test_raw_stream_matches_randomstate():
    # the vectorized MT19937 must reproduce RandomState's raw words
    # (init, twist chain, temper) bit-for-bit
    seeds = np.array([42, 43, 100042, 999999, 2**31 + 7], dtype=np.uint32)
    mt = C._mt_init(seeds)
    t1 = C._mt_twist(mt)
    t2 = C._mt_twist(t1)
    mine = np.concatenate([C._mt_temper(t1), C._mt_temper(t2)], axis=1)
    for j, s in enumerate(seeds):
        ref = np.random.RandomState(int(s)).randint(
            0, 1 << 32, size=2 * 624, dtype=np.uint32
        )
        assert np.array_equal(mine[j], ref), f"seed {s}"


def test_bounded_draw_consumption_model():
    # scalar randint(0, k) == one masked 32-bit word per rejection
    # attempt, for every bound the generator uses (incl. insert bounds)
    bounds = [160, 100, 48, 30, 6, 8, 7, 4, 9999, 256, 2, 41, 199]
    for seed in (42, 7, 123456):
        ref = np.random.RandomState(seed)
        want = [int(ref.randint(0, b)) for b in bounds]
        d = C._VecDraws(np.asarray([seed - C.SEED], dtype=np.int64))
        got = [d.draw1(0, b) for b in bounds]
        assert got == want, f"seed {seed}"


def test_batch_equality_including_planted_terms():
    # doc 0 carries needleuniq; equality must hold through the insert
    # draws and across non-contiguous id ranges
    ids = np.concatenate(
        [np.arange(0, 1500), np.arange(499_000, 500_000), [777_777]]
    )
    ref = _run(_gen_batch_ref, ids)
    fast = _run(C._gen_batch, ids)
    pd.testing.assert_frame_equal(ref, fast)


def test_batch_equality_small_and_single():
    for ids in ([0], [1], [17, 18], list(range(63, 66))):
        ref = _run(_gen_batch_ref, ids)
        fast = _run(C._gen_batch, ids)
        pd.testing.assert_frame_equal(ref, fast)
