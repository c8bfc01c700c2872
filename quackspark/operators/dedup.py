"""Deduplication operators for the training-data pipeline: exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Built on the reference's similarity primitives (jaccard/levenshtein/
mismatches, duckdb-6.cpp:6020-6021) but restructured for scale: the
reference computes pairwise similarity on demand inside one process; at
100 TB the all-pairs product is impossible, so every near-dup operator
here goes through a *blocking* stage first (shared shingle, LSH band
bucket, or SimHash band) so the only shuffle is on block keys and the
quadratic verify runs per-bucket on candidate pairs only.

Portability: all hashing is md5-derived (`md5_int32`), identical in
Spark (`conv(hex,16,10)`) and DuckDB (`('0x'||hex)::BIGINT`) — never an
engine-native `hash()`, whose values are engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from quackspark.functions import text as T


def md5_int32(c: Column, seed: int | None = None) -> Column:
    """First 32 bits of md5(seed|value) as a non-negative BIGINT — the
    portable hash family indexed by `seed` used for MinHash permutations."""
    if seed is not None:
        c = F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10).cast("long")


#: multiply-add mixing constants for the MinHash family: h_i(x) =
#: (A_i * lane_{i%4}(md5(x)) + B_i) mod (2^31 - 1). One md5 digest per
#: shingle (the 4 substring slices CSE into a single evaluation), 16
#: pairwise-independent hashes derived by universal hashing — 4× fewer
#: md5 evaluations than the seed-grouped form this replaced (it was the
#: dominant cost of the signature stage at sf0.1). Products stay under
#: 2^63 in both engines: A_i < 2^31, lane < 2^32.
_MERSENNE31 = 2_147_483_647
_MIX_A = [(2654435761 * (i + 1)) % _MERSENNE31 for i in range(64)]
_MIX_B = [(40503 * (i + 7) ** 2 + 1) % _MERSENNE31 for i in range(64)]


def md5_hash_family(c: Column, i: int) -> Column:
    """Hash i of the MinHash family (see _MIX_A note). The SQL twin is
    queries/dedup._sql_hash_family — keep the formulas identical."""
    j = i % 4
    lane = F.conv(
        F.substring(F.md5(c.cast("binary")), 8 * j + 1, 8), 16, 10
    ).cast("long")
    return F.pmod(
        F.lit(_MIX_A[i]) * lane + F.lit(_MIX_B[i]), F.lit(_MERSENNE31)
    )


def _lane_signature(sh: DataFrame, n_hashes: int) -> DataFrame:
    """(doc, sh) stream → (doc, sig) MinHash signatures with the four md5
    lanes STAGED in their own projection (r13, guide §7.2 "duplicated
    subtrees"): the seed loop previously built n_hashes full
    md5→substring→conv chains — Catalyst analyzes/optimizes every copy and
    only codegen-level subexpression elimination deduplicates them at
    runtime — where each aggregate actually needs one of 4 lane values.
    Staging the lanes once shrinks the expression tree ~4× (measured:
    build 0.60 s → 0.45 s, stage exec 1.72 s → 1.51 s at sf0.1;
    bit-identical output, pinned by tests/test_opt_r13.py)."""
    hexd = F.md5(F.col("sh").cast("binary"))
    lanes = sh.select(
        "doc",
        *[
            F.conv(F.substring(hexd, 8 * j + 1, 8), 16, 10)
            .cast("long")
            .alias(f"_l{j}")
            for j in range(4)
        ],
    )
    aggs = [
        F.min(
            F.pmod(
                F.lit(_MIX_A[i]) * F.col(f"_l{i % 4}") + F.lit(_MIX_B[i]),
                F.lit(_MERSENNE31),
            )
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return (
        lanes.groupBy("doc")
        .agg(*aggs)
        .select("doc", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))
    )


def lsh_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Split the signature into `bands` bands of `rows` values; each band
    key is 'band_index:v1,v2'. Docs sharing any band key become candidate
    pairs — the blocking structure that replaces all-pairs. NULL signature
    entries propagate to a NULL key (join-neutral), matching SQL `||`."""
    keys = []
    for b in range(bands):
        parts: list[Column] = [F.lit(f"{b}:")]
        for r in range(rows):
            if r:
                parts.append(F.lit(","))
            parts.append(F.element_at(sig, b * rows + r + 1).cast("string"))
        keys.append(F.concat(*parts))
    return F.array(*keys)


def _exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(doc, shingle) rows with distinct shingles per doc. Tokens are
    materialized in their own projection so the whitespace split runs once
    per document, not once per slice reference (Catalyst keeps the
    projection because duplicating the non-cheap split fails its
    CollapseProject cost check).

    The input goes through the small-input rescue
    (parallelize_kernel_input): a single-row-group corpus file arrives as
    ONE scan task, serializing the tokenize→shingle→md5 chain (the
    dominant per-task work of every minhash/jaccard stage) on one core —
    interleaved A/B at sf0.1: signature stage 1.3–1.5 s on 1 task vs
    0.55–0.75 s parallelized (guide §2.5 input skew / §6 split floors).
    At scale the scan already has many splits and no shuffle is added."""
    from quackspark.queries._util import parallelize_kernel_input

    toked = parallelize_kernel_input(df).select(
        F.col(id_col).alias("doc"), T.tokens(F.col(text_col)).alias("toks")
    )
    return toked.select(
        "doc",
        F.explode(F.array_distinct(T.word_shingles(F.col("toks"), k))).alias("sh"),
    )


#: default document-frequency cutoff for the hot-shingle guard: a shingle
#: found in more than this many documents is a stopword-shingle — it carries
#: no similarity signal (non-discriminative) and its block alone would
#: produce df² candidate pairs in ONE join task. 1000 ⇒ ≤1e6 pairs per
#: hot block worst-case before the guard trips; inert on the fixtures
#: (max DF is 7 at sf0.01, 25 at sf0.1).
HOT_SHINGLE_DF = 1000

#: hot-list detection runs on a deterministic 1/GUARD_SAMPLE_MOD document
#: sample when the cutoff is large enough for the sampled count to be
#: meaningful (max_df >= GUARD_SAMPLE_MIN_DF) — the DF pass then scans and
#: shuffles only ~5% of the shingle stream instead of all of it
#: (VERDICT r2 item 5: the full-stream DF count was most of the
#: dedup_minhash_lsh r1→r2 cost).
GUARD_SAMPLE_MOD = 20
GUARD_SAMPLE_MIN_DF = 100


def _doc_sample_pred(doc: Column, mod: int) -> Column:
    """Deterministic, engine-neutral 1/mod document sample: first 8 hex
    chars of md5(doc) as an int, mod ``mod`` — the same expression is
    replayable in the DuckDB oracle (queries/dedup.py mirrors it)."""
    h = F.conv(F.substring(F.md5(doc.cast("string")), 1, 8), 16, 10)
    return F.pmod(h.cast("long"), F.lit(mod)) == 0


def _hot_shingle_frame(
    sh: DataFrame,
    max_df: int | None = HOT_SHINGLE_DF,
    sample_mod: int = GUARD_SAMPLE_MOD,
) -> DataFrame:
    """Detection half of :func:`drop_hot_shingles` as a LAZY DataFrame
    (no action): the (possibly sampled) DF pass over a ``(doc, sh)``
    stream, returned as the (usually empty) hot-shingle frame for a
    broadcast anti-join."""
    if sample_mod > 1 and max_df >= GUARD_SAMPLE_MIN_DF:
        src = sh.filter(_doc_sample_pred(F.col("doc"), sample_mod))
        cutoff = max_df // sample_mod
    else:
        src, cutoff = sh, max_df
    return (
        src.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cutoff)
        .select("sh")
    )


def drop_hot_shingles(
    sh: DataFrame,
    max_df: int | None = HOT_SHINGLE_DF,
    sample_mod: int = GUARD_SAMPLE_MOD,
) -> DataFrame:
    """Skew guard: drop shingles whose document frequency exceeds
    ``max_df`` from a ``(doc, sh)`` stream.

    The hot list comes back as a broadcast anti-join, so the main stream
    is never re-shuffled. When ``max_df`` is large enough
    (≥ GUARD_SAMPLE_MIN_DF), its detection runs on a deterministic
    1/``sample_mod`` document sample with the cutoff scaled to
    ``max_df // sample_mod``: the doc filter pushes below the explode to
    the scan, so the DF pass tokenizes and shuffles ~1/20 of the corpus.
    A truly hot shingle (DF ≫ max_df) is caught with overwhelming
    probability; borderline ones are a coin flip — acceptable for a
    performance guard, and the SQL oracle mirrors the sampled semantics
    exactly so correctness parity is unaffected. This is the mitigation
    the reference can't need (its single-process pairwise scan has no
    shuffle to skew) but a 1000-executor band join does.

    Detection stays IN the plan as a broadcast anti-join against the
    (usually empty) hot frame, so the guard costs no construction-time
    action: the r13 collect-then-``isin`` form it replaced paid ~0.6 s
    of blocking collect per minhash-bearing bench query (pinned: building
    the guarded frame starts no Spark job,
    tests/test_hot_shingle_guard.py).

    Precondition: ``sh`` is non-null. Shingles are md5-derived from
    non-null tokens, so this always holds here; a NULL key would never
    match the anti-join and its row would be KEPT."""
    if max_df is None:
        return sh
    hot = _hot_shingle_frame(sh, max_df, sample_mod)
    # equi-join keys lead the join output — restore the caller's
    # column order
    return sh.join(F.broadcast(hot), "sh", "left_anti").select(*sh.columns)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on the whitespace-normalized lowered text: one shuffle
    on the 128-bit fingerprint, survivor = min id per group."""
    norm = F.concat_ws(" ", T.tokens(F.lower(F.col(text_col))))
    return (
        df.select(F.col(id_col), F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("survivor"),
            F.count(F.lit(1)).alias("dupes"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = HOT_SHINGLE_DF,
) -> DataFrame:
    """Near-dup pairs by exact k-shingle Jaccard.

    Plan shape: explode distinct shingles → hot-shingle guard
    (:func:`drop_hot_shingles`, on by default — the shuffle key is the
    shingle, so skew = hottest shingle) → self-equi-join on the shingle
    (the blocking key — only docs sharing a shingle meet) → per-pair
    intersection counts → Jaccard from |A|+|B|-|∩|.

    NOTE: with the guard active, `nsh` counts *surviving* shingles and
    the Jaccard is over the guarded shingle sets — dropped shingles are
    treated as absent from every document (consistent on both sides of
    a pair, and mirrored by the SQL oracle).
    """
    sh = drop_hot_shingles(
        _exploded_shingles(df, text_col, id_col, k), max_shingle_df
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("nsh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    sa = sizes.select(F.col("doc").alias("d1"), F.col("nsh").alias("n1"))
    sb = sizes.select(F.col("doc").alias("d2"), F.col("nsh").alias("n2"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.col("ninter") / (F.col("n1") + F.col("n2") - F.col("ninter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_shingle_df: int | None = HOT_SHINGLE_DF,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: signature → band keys → candidate pairs
    from band-bucket equi-join → verify with the *estimated* Jaccard
    (signature agreement rate).

    The 100 TB shape: per-doc signature (one shingle explode + 16-min
    groupBy, partial-agg friendly), one shuffle on band keys, per-bucket
    pairing; bucket sizes are ~collision counts, not corpus size, so the
    join never goes quadratic in the corpus. The hot-shingle guard (on by
    default) drops stopword-shingles before the signatures: a
    near-universal shingle correlates every signature lane it wins,
    collapsing docs into the same band buckets — the one way this plan's
    band join can still blow up.

    The signatures are localCheckpointed: they feed both sides of the
    candidate self-join, so they are materialized once instead of
    recomputed per side (r14 measured relying on runtime exchange reuse
    instead as a slight loss). A map-only Arrow signature kernel was
    measured against this shape in r13 and lost at bench scale (5.0 s vs
    3.5 s for the signature stage at sf0.1): the per-shingle Python md5
    loop costs more than the JVM's codegen'd md5 plus the exchange.
    """
    sh = drop_hot_shingles(
        _exploded_shingles(df, text_col, id_col, k), max_shingle_df
    )
    sig_df = _lane_signature(sh, n_hashes).localCheckpoint(eager=False)
    rows = n_hashes // bands
    banded = sig_df.select(
        "doc", "sig", F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("band")
    )
    a, b = banded.alias("a"), banded.alias("b")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    # est_jaccard is computed on RAW band collisions so the signatures die
    # at the join projection; the dedup shuffle then carries only
    # (d1, d2, est) triples (collisions in multiple bands yield identical
    # estimates). The dedup sits BEFORE the threshold filter on purpose:
    # it is an aggregation barrier, so the filter cannot be pushed back
    # into the projection and re-inline the zip_with per row.
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.doc") < F.col("b.doc")))
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.round(agree / F.lit(n_hashes), 6).alias("est_jaccard"),
        )
        .dropDuplicates(["d1", "d2"])
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, *, max_distance: int = 3
) -> DataFrame:
    """SimHash near-dup pairs: block on the four 8-bit bands (pigeonhole —
    any pair within hamming distance 3 of a 32-bit hash shares at least
    one of 4 bands), then verify bit_count(xor) ≤ max_distance on the
    band-collision candidates. Shuffle carries (doc, simhash, band) rows
    and candidate pairs only — the corpus never self-joins unblocked."""
    docs = simhash_docs(df, text_col, id_col)
    banded = docs.select(
        "doc",
        "simhash",
        F.explode(
            F.array(*[
                F.concat_ws(":", F.lit(b), F.col(f"band{b}")) for b in range(4)
            ])
        ).alias("bk"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    dist = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).alias("hamming")
    return (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"), dist)
        .dropDuplicates(["d1", "d2"])
        .filter(F.col("hamming") <= max_distance)
    )


def simhash_docs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document 32-bit SimHash plus its four 8-bit bands (the blocking
    keys for hamming-distance≤k search: distance≤3 pairs must agree on at
    least one of 4 bands).

    Map-reduce shape like :func:`_lane_signature`: explode tokens, hash
    once per token (codegen), 32 conditional sums with map-side partial
    aggregation, reassemble bits. Documents with zero tokens drop out.
    Input goes through the small-input rescue (see _exploded_shingles)."""
    from quackspark.queries._util import parallelize_kernel_input

    toks = T.tokens(F.lower(F.col(text_col)))
    exploded = parallelize_kernel_input(df).select(
        F.col(id_col).alias("doc"), F.explode(toks).alias("tok")
    )
    # token hash STAGED once per row (same rationale as _lane_signature):
    # the 32 bit-aggs previously each carried their own md5→conv chain
    staged = exploded.select("doc", md5_int32(F.col("tok")).alias("_code"))
    code = F.col("_code")
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(code, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(32)
    ]
    sums = staged.groupBy("doc").agg(*bit_aggs)
    simhash = sums.select(
        "doc",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for i in range(32)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return simhash.select(
        "doc",
        "simhash",
        *[
            F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255)).alias(f"band{b}")
            for b in range(4)
        ],
    )


def chunk_dedup(
    df: DataFrame, text_col: str, id_col: str, *, chunk_words: int = 8
) -> DataFrame:
    """Chunk-level (paragraph-style) dedup: split each document into
    consecutive ``chunk_words``-word chunks, keep only each chunk's FIRST
    occurrence corpus-wide (ordered by doc id, then position), and
    reassemble the surviving text per document.

    The paragraph-dedup stage of LLM training pipelines (Dolma/RefinedWeb
    style), adapted to layout-free corpora by chunking on word count.
    Scale shape: one shuffle keyed by chunk text (first-occurrence
    window), one groupBy doc to reassemble — chunk keys are ~uniform
    (hot chunks ARE the duplicates being removed, and the window reduces
    them to one row each, so skew self-heals). No driver-side state.
    """
    toked = df.select(
        F.col(id_col).alias("doc"), T.tokens(F.col(text_col)).alias("toks")
    )
    chunks = toked.select(
        "doc",
        F.posexplode(T.word_chunks(F.col("toks"), chunk_words)).alias(
            "pos", "chunk"
        ),
    )
    first = Window.partitionBy("chunk").orderBy("doc", "pos")
    kept = (
        chunks.withColumn("rk", F.row_number().over(first))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    reassembled = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("kept_text"),
    )
    totals = toked.select(
        "doc",
        F.ceil(F.size("toks") / F.lit(chunk_words)).cast("bigint").alias("n_chunks"),
    )
    return totals.join(reassembled, "doc", "left").select(
        "doc",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


def _window_hash_kernel(w: int):
    """Arrow kernel: text → list<struct<pos int, h binary16>> of all
    w-token sliding-window md5 digests, one vectorized pass per batch.

    Identity with the oracle's expression form (tokenize via regex
    ``\\s+`` after a space-only trim, md5 over the space-joined UTF-8
    window): Python ``re.ASCII`` \\s == Java \\s == RE2 \\s (ASCII
    class), and ``str.strip(' ')`` == Spark/DuckDB ``trim`` (space-only).
    Pinned by the DuckDB oracle compare in tests/test_duplicate_spans.py.
    The digest is the raw 16 bytes (the oracle carries lowercase hex) —
    the key never surfaces, only its equality partition.

    Memoized per SparkContext via functions/_udfmemo.memo_udf (a cached
    pandas_udf holds a JVM handle into the context that registered it;
    memo_udf also degrades to an uncached build when no context is
    active)."""
    from quackspark.functions._udfmemo import memo_udf

    return memo_udf(("window_hash", w), lambda: _build_window_hash_kernel(w))


def _build_window_hash_kernel(w: int):
    import hashlib
    import re as _re

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, BinaryType, IntegerType, StructField, StructType,
    )

    ws = _re.compile(r"\s+", _re.ASCII)
    out_type = ArrayType(
        StructType(
            [StructField("pos", IntegerType()), StructField("h", BinaryType())]
        )
    )

    @F.pandas_udf(out_type)
    def _k(texts):
        res = []
        for txt in texts:
            if txt is None:
                res.append([])
                continue
            toks = ws.split(txt.strip(" "))
            n = len(toks) - w + 1
            if n <= 0:
                res.append([])
                continue
            enc = [t.encode("utf-8") for t in toks]
            res.append(
                [
                    (i, hashlib.md5(b" ".join(enc[i : i + w])).digest())
                    for i in range(n)
                ]
            )
        return pd.Series(res)

    return _k


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window_tokens: int = 15,
) -> DataFrame:
    """Exact-substring duplicate spans (the suffix-array dedup of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better",
    re-expressed window-wise for a distributed engine): every
    ``window_tokens``-token sliding window whose exact text occurs MORE
    THAN ONCE corpus-wide marks a duplicated region; overlapping marked
    windows merge into maximal spans per document.

    Returns (doc, span_start, span_end, n_windows): token offsets of each
    maximal duplicated span (end inclusive) and how many duplicated
    windows merged into it.

    Distinct from :func:`chunk_dedup` (fixed non-overlapping chunks):
    sliding windows catch duplicated SPANS at any alignment, crossing
    chunk/paragraph boundaries — the span boundaries are exact, not
    rounded to the chunk grid.

    Scale shape (100 TB): window keys are md5-128 of the window text —
    uniform, so the ONE corpus-wide shuffle (count-over-hash) has no
    inherent skew, and a window occurring k times shuffles k rows, never
    k² pairs. The per-document merge is a second, doc-keyed shuffle of
    only the DUPLICATED windows (dup fraction × corpus). The reference
    computes pairwise similarity in-process (duckdb-6.cpp:6020); an
    all-pairs form of this is impossible at scale — the window-hash
    shuffle IS the distributed suffix-sort analog.
    """
    from quackspark.queries._util import parallelize_kernel_input

    w = window_tokens
    # small-input rescue: the window-hash work (one md5 per token
    # position, ~1M digests at sf0.1) otherwise runs on the single scan
    # task of a one-row-group corpus file (guide §2.5/§6); inert at scale
    df = parallelize_kernel_input(df)
    # Arrow window-hash kernel: one vectorized pass builds every window
    # digest — the interpreted HOF form (slice/array_join/md5 per window,
    # still the shape of the DuckDB oracle) cost ~4× at sf0.1 (measured
    # 1.86 s vs the kernel; same trade as fingerprint_arrow)
    k = _window_hash_kernel(w)
    windows = df.select(
        F.col(id_col).alias("doc"),
        F.explode(k(F.col(text_col))).alias("win"),
    ).select("doc", F.col("win.pos").alias("pos"), F.col("win.h").alias("h"))
    # corpus-wide occurrence count per window hash — the one wide shuffle
    dup = (
        windows.withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("c") > 1)
        .select("doc", "pos")
    )
    # merge overlapping [pos, pos+w-1] intervals per doc (gaps-and-islands:
    # a window starts a new span iff it begins past every prior window's
    # end; cumulative max of end over the pos order)
    by_pos = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(w - 1)).over(
        by_pos.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        dup.withColumn(
            "brk",
            F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(by_pos))
        .groupBy("doc", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc", "span_start", "span_end", "n_windows")
    )
    return spans


def span_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window_tokens: int = 15,
) -> DataFrame:
    """Remove duplicated spans, keeping each one's corpus-FIRST occurrence
    (the actionable form of :func:`duplicate_spans` — the actual dedup
    stage of Lee et al. 2022: all but one occurrence of every duplicated
    substring are cut from the training text).

    Canonical occurrence of a duplicated window = the (doc, pos)-least
    one corpus-wide (row_number over the window hash). Non-canonical
    duplicated windows mark their token range; marked ranges merge per
    doc (gaps-and-islands, as in duplicate_spans) and the surviving
    tokens are re-joined with single spaces.

    Returns (doc, n_tokens, n_removed, kept_text) — n_removed counts
    tokens cut (merged spans never double-count a token).

    Scale shape: identical to duplicate_spans (one uniform window-hash
    shuffle; the rank-over-hash is the same exchange the count used),
    plus one doc-keyed join of the span lists — span lists are per-doc
    small, the corpus text never shuffles for the merge (the spans
    broadcast-or-shuffle by doc id against the token arrays).
    """
    from quackspark.queries._util import parallelize_kernel_input

    w = window_tokens
    k = _window_hash_kernel(w)
    # same small-input rescue as duplicate_spans: the per-token md5 loop
    # must not serialize on a one-row-group scan task (inert at scale)
    par = parallelize_kernel_input(df)
    windows = par.select(
        F.col(id_col).alias("doc"),
        F.explode(k(F.col(text_col))).alias("win"),
    ).select("doc", F.col("win.pos").alias("pos"), F.col("win.h").alias("h"))
    # non-canonical duplicated windows: rank>1 in (doc,pos) order per hash
    marked = (
        windows.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("h").orderBy("doc", "pos")),
        )
        .filter(F.col("rn") > 1)
        .select("doc", "pos")
    )
    by_pos = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(w - 1)).over(
        by_pos.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        marked.withColumn(
            "brk",
            F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(by_pos))
        .groupBy("doc", "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(w - 1)).alias("e"),
        )
        .groupBy("doc")
        .agg(
            F.collect_list(F.struct("s", "e")).alias("spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("n_removed"),
        )
    )
    toked = par.select(
        F.col(id_col).alias("doc"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
    )
    joined = toked.join(spans, "doc", "left")
    covered = lambda i: F.exists(  # noqa: E731
        F.col("spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
    )
    return joined.select(
        "doc",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
        F.when(F.col("spans").isNull(), F.array_join("toks", " "))
        .otherwise(
            F.array_join(
                F.filter("toks", lambda t, i: ~covered(i)), " "
            )
        )
        .alias("kept_text"),
    )
