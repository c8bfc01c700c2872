"""r13/r14 optimization pins: an optimization that changes an operator's
internals leaves its results bit-identical and its plan in the shape it
was chosen for. Results of every declared query are checked against the
DuckDB oracle in tests/test_oracle_parity.py; the tests here cover what
that cannot see:

- MinHash+LSH on short / NULL documents (edge inputs the fixtures lack).
- Connected-components driver union-find fast path vs the distributed
  large/small-star loop.
- The capstones' single-pass temperature mix: one keep-gate subtree in
  the executed plan.
- Staged md5 lanes / token hashes vs the un-staged formulas.
- The size-gated pair score table vs the join form.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_minhash_kernel_short_and_null_docs(spark):
    """Docs below k tokens (and NULL text) have no shingles, so they drop
    out of the signature set and never pair; exact and whitespace-noisy
    duplicates do pair."""
    from quackspark.operators import dedup as D

    df = spark.createDataFrame(
        [
            (1, "one two"),                        # < k tokens: no shingles
            (2, None),                             # NULL text
            (3, "alpha beta gamma delta"),
            (4, "alpha beta gamma delta"),         # exact dup of 3
            (5, "  alpha   beta\tgamma  delta  "), # whitespace-noisy dup
        ],
        "doc_id bigint, text string",
    )
    kw = dict(k=3, n_hashes=16, bands=8, threshold=0.25)
    rows = _rows(D.minhash_lsh_pairs(df, "text", "doc_id", **kw), "d1", "d2")
    pairs = {(r[0], r[1]) for r in rows}
    assert (3, 4) in pairs and (3, 5) in pairs  # dups found
    assert not {d for p in pairs for d in p} & {1, 2}  # short/null absent


def test_cc_driver_path_equals_distributed(spark):
    from quackspark.operators import components as CC
    from quackspark.operators import dedup as D
    from quackspark.session import load_table

    d = load_table(spark, SF_ORACLE, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", k=3, n_hashes=16, bands=8, threshold=0.25
    ).localCheckpoint()
    dist = _rows(CC.connected_components(pairs, "d1", "d2", driver_cap=0), "node")
    drv = _rows(CC.connected_components(pairs, "d1", "d2"), "node")
    assert dist == drv
    assert len(drv) > 0


@pytest.mark.parametrize(
    "edges",
    [
        # chain, star, two components, duplicate + reversed + self edges
        [(1, 2), (2, 3), (3, 4), (4, 5)],
        [(10, 1), (10, 2), (10, 3), (10, 4)],
        [(1, 2), (3, 4), (5, 6), (6, 5), (2, 1), (7, 7)],
    ],
)
def test_cc_driver_path_synthetic_graphs(spark, edges):
    from quackspark.operators import components as CC

    e = spark.createDataFrame(edges, "d1 bigint, d2 bigint")
    dist = _rows(CC.connected_components(e, "d1", "d2", driver_cap=0), "node")
    drv = _rows(CC.connected_components(e, "d1", "d2"), "node")
    assert dist == drv


def test_cc_driver_cap_zero_forces_distributed(spark):
    """driver_cap larger than the edge count takes the fast path; a cap
    below it falls back to the distributed loop — both agree."""
    from quackspark.operators import components as CC

    edges = [(i, i + 1) for i in range(50)]
    e = spark.createDataFrame(edges, "d1 bigint, d2 bigint")
    small_cap = _rows(CC.connected_components(e, "d1", "d2", driver_cap=10), "node")
    big_cap = _rows(CC.connected_components(e, "d1", "d2", driver_cap=1000), "node")
    assert small_cap == big_cap
    comp = {r[1] for r in big_cap}
    assert comp == {0}  # one chain, min node 0


@pytest.mark.parametrize(
    "name", ["pipeline_training_prep_v2", "pipeline_training_prep_v3"]
)
def test_single_pass_mix_identical(spark, name):
    """r14: the capstones run the temperature mix as ONE linear plan over
    a per-(source, bucket) pre-aggregate — no gate checkpoint, one gate
    subtree. Both capstones share that plan shape: exactly one copy of
    the keep-gate semi-join (the subtree the r13 narrow-gate checkpoint
    existed to deduplicate) and the narrow token-count column. Their
    results are oracle-checked in tests/test_oracle_parity.py."""
    from quackspark.queries import pipeline as P

    plan = (
        getattr(P, name)(spark, SF_ORACLE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("LeftSemi") == 1, plan
    # the narrow projection still never carries the text column past the
    # gate: the mix pre-aggregate reads (source, quality, _ntok, bucket)
    assert "_ntok" in plan


def test_lane_signature_equals_hash_family(spark):
    """r13: _lane_signature stages the 4 md5 lanes in one projection and
    derives every seed's min from a staged lane column. Must be
    bit-identical to the original per-seed md5_hash_family aggregation
    (same formula, un-staged), including empty-shingle dropout."""
    from quackspark.operators import dedup as D
    from quackspark.session import load_table

    d = load_table(spark, SF_ORACLE, "documents")
    sh = D._exploded_shingles(d, "text", "doc_id", 3)
    staged = _rows(D._lane_signature(sh, 16), "doc")
    aggs = [
        F.min(D.md5_hash_family(F.col("sh"), i)).alias(f"h{i}")
        for i in range(16)
    ]
    orig = _rows(
        sh.groupBy("doc")
        .agg(*aggs)
        .select("doc", F.array(*[f"h{i}" for i in range(16)]).alias("sig")),
        "doc",
    )
    assert staged == orig
    assert len(staged) > 0


def test_simhash_staged_code_identical(spark):
    """r13: simhash_docs stages the per-token hash once before the 32
    bit-aggs; results must match the declared oracle twin (parity suite)
    and the band reassembly must be unchanged — pin a snapshot here."""
    from quackspark.operators import dedup as D
    from quackspark.session import load_table

    d = load_table(spark, SF_ORACLE, "documents")
    out = _rows(D.simhash_docs(d, "text", "doc_id"), "doc")
    assert len(out) > 0
    # every simhash is a 32-bit value and the 4 bands reassemble it
    for row in out[:50]:
        doc, simhash, b0, b1, b2, b3 = row
        assert 0 <= simhash < 2**32
        assert simhash == b0 + (b1 << 8) + (b2 << 16) + (b3 << 24)


def test_pair_score_table_equals_join_form(spark):
    """r13: the size-gated broadcast-table scoring path of
    embedding_neardup_pairs must be bit-identical to the re-attach-join
    + dot_arrow form (same banding, same IEEE fold order, same round)."""
    from quackspark.operators import simsearch as S
    from quackspark.session import load_table

    e = load_table(spark, SF_ORACLE, "embeddings")
    # cap forced high so this side provably takes the table path (an env
    # override or a non-integral id column would otherwise silently turn
    # the comparison into join-vs-join)
    tdf = S.embedding_neardup_pairs(e, threshold=0.45, score_table_cap=10**9)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        tdf.explain("formatted")
    assert "ArrowEvalPython" in buf.getvalue()  # the table kernel, not joins
    table = _rows(tdf, "d1", "d2")
    joins = _rows(
        S.embedding_neardup_pairs(e, threshold=0.45, score_table_cap=0),
        "d1", "d2",
    )
    assert table == joins
    assert len(table) > 0  # the fixture must exercise the band join


def test_pair_score_table_fallbacks(spark):
    """Duplicate ids and empty corpora must fall back to the join form
    (searchsorted would silently pick an arbitrary copy; an empty table
    has no width) — same results, no crash."""
    from pyspark.sql import functions as F

    from quackspark.operators import simsearch as S

    dup = spark.createDataFrame(
        [(1, [1.0] * 64), (1, [0.5] * 64), (2, [1.0] * 64), (3, [-1.0] * 64)],
        "vec_id bigint, embedding array<float>",
    )
    a = _rows(S.embedding_neardup_pairs(
        dup, threshold=0.1, n_rows=4, score_table_cap=10**9), "d1", "d2")
    b = _rows(S.embedding_neardup_pairs(
        dup, threshold=0.1, n_rows=4, score_table_cap=0), "d1", "d2")
    assert a == b
    empty = dup.filter(F.col("vec_id") < 0)
    out = S.embedding_neardup_pairs(
        empty, threshold=0.1, n_rows=0, score_table_cap=10**9
    )
    assert out.count() == 0
