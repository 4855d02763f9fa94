"""Property test for incremental_split_update (e2e11's operator): on ANY
generated corpus/batch, the rep-collapsed incremental assignment must
equal an independent python mirror that computes the FULL union closure —
the contraction-equivalence argument, executed rather than argued — plus
the stability / no-straddle / conflict-flag invariants."""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cnics_to_fhir_spark.operators.dataset import incremental_split_update

TEMPLATES = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "red orange yellow green blue indigo violet umber sepia ochre",
    "one two three four five six seven eight nine ten",
]
# suffix lengths: s1+s2 <= 8 pairs (jaccard 8/(8+s1+s2) >= 0.5), 5+5 doesn't
SUFFIX = [0, 1, 2, 5]


def _text(doc_id: int, tmpl: int, sfx: int) -> str:
    words = TEMPLATES[tmpl].split(" ") + [f"u{doc_id}w{i}" for i in range(sfx)]
    return " ".join(words)


def _shingles(text: str, k: int = 3) -> frozenset[str]:
    toks = text.split(" ")
    if len(toks) >= k:
        return frozenset(
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        )
    return frozenset([text])


def _block(text: str, n: int = 4) -> str:
    return " ".join(text.split(" ")[:n])


def _pairs(docs: dict[int, str]) -> set[tuple[int, int]]:
    ids = sorted(docs)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if _block(docs[a]) != _block(docs[b]):
                continue
            sa, sb = _shingles(docs[a]), _shingles(docs[b])
            j = len(sa & sb) / len(sa | sb)
            if math.floor(j * 1e6 + 0.5) / 1e6 >= 0.5:
                out.add((a, b))
    return out


def _components(nodes: set[int], edges: set[tuple[int, int]]) -> dict[int, int]:
    adj: dict[int, set[int]] = {n: set() for n in nodes}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rep: dict[int, int] = {}
    seen: set[int] = set()
    for n in sorted(adj):
        if n in seen:
            continue
        comp, stack = [], [n]
        seen.add(n)
        while stack:
            x = stack.pop()
            comp.append(x)
            for y in adj.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        m = min(comp)
        for x in comp:
            rep[x] = m
    return rep


def _bucket_split(rep: int) -> str:
    h = hashlib.md5(str(rep).encode()).hexdigest()[:2]
    return "train" if h < "c0" else ("val" if h < "e0" else "test")


def _mirror(docs: dict[int, str], batch_ids: set[int]) -> dict[int, tuple]:
    corpus_ids = set(docs) - batch_ids
    pairs = _pairs(docs)
    cpairs = {(a, b) for a, b in pairs if a in corpus_ids and b in corpus_ids}
    crep = _components(set(), cpairs)
    phase1 = {
        c: _bucket_split(crep.get(c, c)) for c in corpus_ids
    }
    urep = _components(set(), pairs)
    out: dict[int, tuple] = {}
    for c in sorted(corpus_ids):
        out[c] = (False, phase1[c], False, False)
    # group union components
    comp_members: dict[int, list[int]] = {}
    for d in sorted(docs):
        comp_members.setdefault(urep.get(d, d), []).append(d)
    for n in sorted(batch_ids):
        r = urep.get(n, n)
        members = comp_members.get(r, [n])
        corpus_members = [m for m in members if m in corpus_ids]
        if corpus_members:
            splits = {phase1[m] for m in corpus_members}
            out[n] = (True, phase1[min(corpus_members)], True, len(splits) > 1)
        else:
            out[n] = (True, _bucket_split(min(members)), False, False)
    return out


@pytest.mark.filterwarnings("error:Spark session is not provided")
@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from(SUFFIX)),
        min_size=6,
        max_size=20,
    )
)
def test_incremental_equals_union_closure_mirror(spark, spec):
    docs = {i: _text(i, t, s) for i, (t, s) in enumerate(spec)}
    batch_ids = {i for i in docs if i % 3 == 0}
    if not batch_ids or batch_ids == set(docs):
        return  # degenerate draw: nothing to ingest / no corpus
    rows = [(i, txt) for i, txt in docs.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter(~df.doc_id.isin(*batch_ids))
    batch = df.filter(df.doc_id.isin(*batch_ids))

    got = {
        r["doc_id"]: (r["is_new"], r["split"], r["inherited"], r["conflict"])
        for r in incremental_split_update(corpus, batch).collect()
    }
    expect = _mirror(docs, batch_ids)
    assert got == expect

    # invariants, independently of the mirror:
    # every doc present exactly once; within-batch pairs never straddle
    assert set(got) == set(docs)
    pairs = _pairs(docs)
    for a, b in pairs:
        if a in batch_ids and b in batch_ids:
            assert got[a][1] == got[b][1], f"within-batch straddle {a},{b}"
        if (a in batch_ids) != (b in batch_ids):
            new, old = (a, b) if a in batch_ids else (b, a)
            if not got[new][3]:  # non-conflict ingested docs agree
                assert got[new][1] == got[old][1], f"neighbor disagree {new},{old}"
