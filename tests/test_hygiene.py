"""Training-data hygiene trio pinned on constructed corpora.

The natural synthetic corpus exercises the nonzero branches only thinly
(2 contaminated docs, 3 boilerplate hits at sf0.01 — driver-hash-checked);
these tests pin the exact semantics against hand-computed values, the
test_textfn.py discipline for repetition/PII.
"""

from __future__ import annotations

import pandas as pd

import scrapy_spark.entry_queries as eq
from scrapy_spark.entry_queries import QUERIES


def _with_docs(spark, pdf, name, sf="unused"):
    """Run a registry query with the documents table replaced."""
    df = spark.createDataFrame(pdf)
    orig = eq.load
    try:
        eq.load = lambda sp, d, t: df if t == "documents" else orig(sp, d, t)
        return QUERIES[name][0](spark, sf).collect()
    finally:
        eq.load = orig


def test_decontaminate_constructed(spark):
    # doc 0 and 40 are eval (doc_id % 20 == 0); doc 21 is an exact duplicate
    # of eval doc 0 (frac 1.0 -> contaminated), doc 22 shares 1 of its 5
    # shingles (0.2 < 0.8 -> clean), doc 23 is disjoint.
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 40, 21, 22, 23],
            "text": [
                "a b c d e",
                "m n o p q",
                "a b c d e",
                "a b c x y z w",
                "p q r s",
            ],
        }
    )
    out = {r["doc_id"]: r for r in _with_docs(spark, pdf, "text_decontaminate")}
    assert len(out) == 5
    for eid in (0, 40):  # eval rows: flagged, zero train-side stats
        assert out[eid]["is_eval"] == 1
        assert out[eid]["n_shingles"] == 0
        assert out[eid]["is_contaminated"] == 0
    r21 = out[21]
    assert (r21["n_shingles"], r21["n_contaminated"]) == (3, 3)
    assert r21["contamination_frac"] == 1.0 and r21["is_contaminated"] == 1
    r22 = out[22]
    assert (r22["n_shingles"], r22["n_contaminated"]) == (5, 1)
    assert r22["contamination_frac"] == 0.2 and r22["is_contaminated"] == 0
    r23 = out[23]
    assert (r23["n_shingles"], r23["n_contaminated"]) == (2, 0)
    assert r23["is_contaminated"] == 0


def test_decontaminate_exact_80pct_boundary(spark):
    # 5 shingles, 4 contaminated: 5*4 >= 4*5 -> the >= threshold trips AT
    # the boundary (integer compare, no float drift).
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 21],
            "text": ["a b c d e f", "a b c d e f z"],
        }
    )
    # eval doc 0 shingles: {a b c, b c d, c d e, d e f};
    # train doc 21: those 4 plus 'e f z' -> 4/5 = exactly 0.8
    out = {r["doc_id"]: r for r in _with_docs(spark, pdf, "text_decontaminate")}
    r = out[21]
    assert (r["n_shingles"], r["n_contaminated"]) == (5, 4)
    assert r["contamination_frac"] == 0.8 and r["is_contaminated"] == 1


def test_boilerplate_constructed(spark):
    # 'k l m n o' appears in 3 docs -> boilerplate (df >= 3); every other
    # gram is in <= 2 docs; doc 4 is too short for any 5-gram but keeps
    # its zero row (all-docs grain).
    t12 = "k l m n o r s t u v"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [t12, t12, "q w k l m n o e r", "short one"],
        }
    )
    out = {r["doc_id"]: r for r in _with_docs(spark, pdf, "text_boilerplate")}
    assert len(out) == 4
    for did in (1, 2):
        r = out[did]
        assert (r["n_5grams"], r["n_boiler"]) == (6, 1)
        assert r["boiler_frac"] == round(1 / 6, 6)
    r3 = out[3]
    assert (r3["n_5grams"], r3["n_boiler"]) == (5, 1)
    assert r3["boiler_frac"] == 0.2
    r4 = out[4]
    assert (r4["n_5grams"], r4["n_boiler"], r4["boiler_frac"]) == (0, 0, 0.0)


def test_sample_mixture_targets_and_determinism(spark):
    # source 'a': 9 docs -> floor(sqrt(9)) = 3 kept; source 'b': 1 doc ->
    # greatest(1, floor(sqrt(1))) = 1 kept. Ranks are a 1..n permutation
    # per source and the whole decision is a pure function of doc_id.
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(1, 10)) + [100],
            "source": ["a"] * 9 + ["b"],
        }
    )
    rows = _with_docs(spark, pdf, "sample_mixture")
    rows2 = _with_docs(spark, pdf, "sample_mixture")
    key = lambda rs: sorted((r["doc_id"], r["sample_rank"], r["is_selected"]) for r in rs)
    assert key(rows) == key(rows2)  # deterministic, no RNG state

    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    a, b = by_src["a"], by_src["b"]
    assert sorted(r["sample_rank"] for r in a) == list(range(1, 10))
    assert all(r["n_source_docs"] == 9 and r["sample_target"] == 3 for r in a)
    assert sum(r["is_selected"] for r in a) == 3
    # selected docs are exactly the first 3 in (md5, doc_id) order
    import hashlib

    order = sorted(
        (hashlib.md5(str(r["doc_id"]).encode()).hexdigest(), r["doc_id"])
        for r in a
    )
    expect = {d for _, d in order[:3]}
    assert {r["doc_id"] for r in a if r["is_selected"]} == expect
    assert b[0]["sample_target"] == 1 and b[0]["is_selected"] == 1


def test_duplicate_spans_constructed(spark):
    """Span-level exact substring dedup (k=8): a 12-token passage shared
    between two docs yields ONE maximal span per doc covering exactly the
    passage; a 7-token shared run (< k) never surfaces; repetition WITHIN
    one doc alone is not cross-doc duplication."""
    passage = "the quick brown fox jumps over the lazy dog again and again"
    assert len(passage.split()) == 12
    seven = "one two three four five six seven"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                # passage at positions 3..14 (1-based)
                "intro words here " + passage + " trailing tail",
                # passage at positions 1..12
                passage + " different ending text",
                # 7 shared tokens only (< k=8): no duplicated 8-gram
                seven + " unique filler tokens to pad the document body",
                seven + " other padding words that do not repeat passage",
                # self-repetition inside ONE doc: not cross-doc, no span
                "solo phrase repeated here now solo phrase repeated here "
                "now solo phrase repeated here now",
            ],
        }
    )
    rows = _with_docs(spark, pdf, "dedup_duplicate_spans")
    got = {(r["doc_id"]): r for r in rows}
    assert set(got) == {1, 2}
    assert (got[1]["span_start"], got[1]["span_end"]) == (4, 15)
    assert (got[2]["span_start"], got[2]["span_end"]) == (1, 12)
    assert got[1]["span_tokens"] == got[2]["span_tokens"] == 12
    # 12-token passage contains 12 - 8 + 1 = 5 duplicated 8-grams
    assert got[1]["n_dup_grams"] == got[2]["n_dup_grams"] == 5


def test_duplicate_spans_merge_and_split_islands(spark):
    """Duplicated passages separated by ANY unique tokens stay separate
    spans (cutting would swallow unique text); ADJACENT duplicated
    passages merge into one maximal span."""
    p1 = "alpha beta gamma delta epsilon zeta eta theta"      # 8 tokens
    p2 = "iota kappa lambda mu nu xi omicron pi"              # 8 tokens
    gap = "x1 x2 x3"                                          # unique gap
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                p1 + " " + gap + " " + p2,    # unique gap: 2 spans
                p1 + " " + p2,                # adjacent: 1 merged span
                p1 + " spacer words " + p2,   # donor doc for both
            ],
        }
    )
    rows = _with_docs(spark, pdf, "dedup_duplicate_spans")
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 2
    assert {(r["span_start"], r["span_end"]) for r in by_doc[1]} == {
        (1, 8), (12, 19)
    }
    assert len(by_doc[2]) == 1
    # doc 2 = p1 immediately followed by p2: duplicated 8-grams at pos 1
    # and pos 9 are exactly k apart -> one maximal span [1, 16]
    assert (by_doc[2][0]["span_start"], by_doc[2][0]["span_end"]) == (1, 16)
    assert by_doc[2][0]["span_tokens"] == 16
    assert len(by_doc[3]) == 2


def test_leakage_safe_split_constructed(spark):
    """Near-dup docs share a minhash component, so they land on the SAME
    side of the split by construction; every doc (even unshingleable short
    ones) gets a row; split values are the two expected labels."""
    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                shared + " tail one",
                shared + " tail two",          # near-dup of doc 1
                "completely different words entirely",
                "xy",                          # < 3 tokens: no shingles
            ],
        }
    )
    rows = _with_docs(spark, pdf, "leakage_safe_split")
    got = {r["doc_id"]: r for r in rows}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["group_key"] == got[2]["group_key"]
    assert got[1]["split"] == got[2]["split"]
    assert got[4]["group_key"] == 4            # singleton fallback
    assert all(r["split"] in ("train", "heldout") for r in rows)


def test_pack_sequences_constructed(spark):
    """Concat-and-chunk packing invariants on a constructed corpus: per
    source the stream is gapless (positions tile exactly), sequence spans
    follow from integer division by CTX=256, a doc straddling a cut spans
    two sequences, and a zero-token doc occupies no stream space but stays
    locatable."""
    pdf = pd.DataFrame(
        {
            # source A: three docs of 200/200/200 tokens -> total 600:
            # one of them MUST straddle the 256 and/or 512 cut
            "doc_id": [1, 2, 3, 10, 11],
            "text": [
                " ".join(f"a{i}" for i in range(200)),
                " ".join(f"b{i}" for i in range(200)),
                " ".join(f"c{i}" for i in range(200)),
                # source B: a 300-token doc (spans seqs 0 and 1) + empty doc
                " ".join(f"d{i}" for i in range(300)),
                "",
            ],
            "source": ["A", "A", "A", "B", "B"],
        }
    )
    rows = {r["doc_id"]: r.asDict()
            for r in _with_docs(spark, pdf, "pack_sequences")}
    assert set(rows) == {1, 2, 3, 10, 11}
    # per-source gapless tiling: sorted stream positions == running sums
    for src, ids in (("A", [1, 2, 3]), ("B", [10, 11])):
        got = sorted((rows[i]["stream_pos"], rows[i]["n_tokens"])
                     for i in ids)
        pos = 0
        for p, n in got:
            assert p == pos, (src, got)
            pos += n
    # every span obeys the div-256 arithmetic
    for r in rows.values():
        assert r["seq_first"] == r["stream_pos"] // 256
        if r["n_tokens"] > 0:
            assert r["seq_last"] == (r["stream_pos"] + r["n_tokens"] - 1) // 256
        else:
            assert r["seq_last"] == r["seq_first"]
    # source A totals 600 tokens: at least one doc crosses a cut
    assert any(rows[i]["seq_last"] > rows[i]["seq_first"] for i in (1, 2, 3))
    # the 300-token doc spans exactly two sequences from its position
    b = rows[10]
    assert b["seq_last"] - b["seq_first"] in (1, 2) and b["n_tokens"] == 300
    # the empty doc consumed no stream space: source B's stream ends at
    # exactly doc 10's 300 tokens, wherever the md5 order placed the pair
    e = rows[11]
    assert e["n_tokens"] == 0 and e["seq_first"] == e["seq_last"]
    assert rows[10]["stream_pos"] == 0 == e["stream_pos"] or (
        rows[10]["stream_pos"] == 0 and e["stream_pos"] == 300
    )
