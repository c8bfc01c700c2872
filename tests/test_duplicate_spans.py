"""Exact-substring duplicate spans (operators/dedup.duplicate_spans —
Lee et al. 2022's suffix-array dedup re-expressed window-wise).

Constructed-corpus semantics: a shared w-token run across two docs marks
both; overlapping duplicated windows merge into ONE maximal span;
within-doc repetition counts as duplication; sub-window docs are exempt.
The corpus-level differential vs DuckDB runs in the parity sweep
(queries/dedup.ORACLES['dedup_duplicate_spans'])."""

from __future__ import annotations

from quackspark.operators import dedup as D
from tests.conftest import SF_SMALL

W = 4  # small window so the fixtures stay readable


def _spans(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = D.duplicate_spans(df, "text", "doc_id", window_tokens=W)
    return sorted(
        (r.doc, r.span_start, r.span_end, r.n_windows) for r in out.collect()
    )


def test_shared_run_marks_both_docs(spark):
    # docs 1 and 2 share the exact 6-token run "a b c d e f": windows at
    # pos 0,1,2 duplicate in BOTH docs and merge to one span [0, 5]
    rows = [
        (1, "a b c d e f x1 y1 z1 w1"),
        (2, "a b c d e f x2 y2 z2 w2"),
        (3, "p q r s t u v pp qq rr"),
    ]
    got = _spans(spark, rows)
    assert got == [(1, 0, 5, 3), (2, 0, 5, 3)]


def test_disjoint_spans_do_not_merge(spark):
    # two shared runs separated by unique middles -> two spans per doc
    rows = [
        (1, "a b c d m1 m2 m3 m4 m5 e f g h t1"),
        (2, "a b c d n1 n2 n3 n4 n5 e f g h t2"),
    ]
    got = _spans(spark, rows)
    assert got == [
        (1, 0, 3, 1), (1, 9, 12, 1),
        (2, 0, 3, 1), (2, 9, 12, 1),
    ]


def test_within_doc_repetition_counts(spark):
    # "a b c d" occurs twice INSIDE one doc -> both occurrences are spans
    rows = [(1, "a b c d zz1 zz2 a b c d yy1 yy2")]
    got = _spans(spark, rows)
    assert got == [(1, 0, 3, 1), (1, 6, 9, 1)]


def test_sub_window_docs_exempt(spark):
    # identical docs shorter than one window produce no windows at all
    rows = [(1, "a b c"), (2, "a b c"), (3, "a b c d e f g h i j")]
    assert _spans(spark, rows) == []


def test_whitespace_normalization(spark):
    # runs of spaces / tabs tokenize identically (split on \s+)
    rows = [
        (1, "a  b\tc d e5 f5 g5 h5"),
        (2, "a b c d e6 f6 g6 h6"),
    ]
    got = _spans(spark, rows)
    assert got == [(1, 0, 3, 1), (2, 0, 3, 1)]


def test_long_overlap_merges_to_one_maximal_span(spark):
    # a 9-token shared run -> 6 overlapping windows -> one span [0, 8]
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9"
    rows = [(1, shared + " u1 u2"), (2, shared + " v1 v2")]
    got = _spans(spark, rows)
    assert got == [(1, 0, 8, 6), (2, 0, 8, 6)]


def test_kernel_matches_expression_form(spark):
    """The Arrow window-hash kernel matches the expression form — the
    DuckDB oracle, which slices, joins and md5s every window in SQL — on
    real fixture text (the identity argument in _window_hash_kernel's
    docstring, exercised end-to-end)."""
    from quackspark.oracle import compare
    from quackspark.queries.dedup import ORACLES, QUERIES

    df = QUERIES["dedup_duplicate_spans"](spark, SF_SMALL)
    assert df.count() > 0
    problems = compare(df, ORACLES["dedup_duplicate_spans"], SF_SMALL)
    assert not problems, "\n".join(problems)


def _scrub(spark, rows, w=W):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = D.span_scrub(df, "text", "doc_id", window_tokens=w)
    return {r.doc: (r.n_tokens, r.n_removed, r.kept_text) for r in out.collect()}


def test_scrub_keeps_corpus_first_occurrence(spark):
    # doc 1 is the canonical holder of "a b c d e f"; doc 2 loses it
    rows = [
        (1, "a b c d e f x1 y1 z1 w1"),
        (2, "a b c d e f x2 y2 z2 w2"),
        (3, "p q r s t u v pp qq rr"),
    ]
    got = _scrub(spark, rows)
    assert got[1] == (10, 0, "a b c d e f x1 y1 z1 w1")
    assert got[2] == (10, 6, "x2 y2 z2 w2")
    assert got[3] == (10, 0, "p q r s t u v pp qq rr")


def test_scrub_within_doc_repetition_keeps_first(spark):
    rows = [(1, "a b c d zz1 zz2 a b c d yy1 yy2")]
    got = _scrub(spark, rows)
    assert got[1] == (12, 4, "a b c d zz1 zz2 yy1 yy2")


def test_scrub_untouched_doc_roundtrips(spark):
    rows = [(1, "only one doc here nothing repeats at all")]
    got = _scrub(spark, rows)
    assert got[1] == (8, 0, "only one doc here nothing repeats at all")


def test_span_ops_plan_shape(spark):
    """100 TB posture: the window stage is map-side (kernel + explode,
    no exchange below the window-hash shuffle), nothing joins the corpus
    to itself, and every exchange is keyed by the window hash or the doc
    id — never a cross product."""
    import re

    from quackspark.entry import queries

    for name in ("dedup_duplicate_spans", "dedup_span_scrub"):
        plan = (
            queries()[name](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        for l in plan.splitlines():
            if re.search(r"\bExchange hashpartitioning", l):
                assert ("h#" in l) or ("doc#" in l), (name, l)
