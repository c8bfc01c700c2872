"""End-to-end training-data preparation pipeline over `documents` —
the composition the north-star operators exist for, as ONE declarative
plan: exact dedup → MinHash-LSH near-dup removal → language + quality
gates → per-source corpus rollup.

Every stage is the already-oracled operator (operators/dedup.py,
functions/text.py); composing them in one DataFrame expression lets
Catalyst fuse the gates into the scans and keeps the whole pipeline
lazy — nothing materializes between stages.

Scale shape (100 TB corpus): stage shuffles are (1) the 128-bit
fingerprint groupBy, (2) the shingle explode + signature aggregate and
band-key join of the LSH stage (collision-bounded), (3) the final
source rollup (tiny). The near-dup drop list is dimension-sized and
broadcast into an anti-join; the quality/language gates are pure map
filters that push into the survivor scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quackspark.functions import text as T
from quackspark.operators import components as CC
from quackspark.operators import dedup as D
from quackspark.queries._util import (
    davg,
    davg_merge,
    dsum_part,
    load_table,
    o_davg,
)
from quackspark.queries.dedup import (
    _sql_band_keys,
    _sql_shingles,
    _sql_signature,
    _TOKS,
    _TOKS_LOWER,
    N_HASHES,
)
from quackspark.queries.textops import _sql_hits, _STOPWORDS

_EST_THRESHOLD = 0.25
_QUALITY_THRESHOLD = 0.5
_SQL_SHINGLES3 = _sql_shingles(_TOKS, 3)


def pipeline_training_prep(
    spark: SparkSession, sf_dir: str, *, checkpoint_survivors: bool = True
) -> DataFrame:
    """``checkpoint_survivors`` materializes the exact-dedup survivor set
    once (localCheckpoint) instead of recomputing the fingerprint semi-join
    per output branch. Both modes are benched every round
    (pipeline_training_prep vs pipeline_training_prep_recompute in
    BENCH_r{N}) so the recompute-vs-checkpoint trade is measured per
    scale, not asserted (VERDICT r2 item 6). Checkpoint became the faster
    mode once the minhash stage stopped dominating (r3: 3.66s vs 4.04s at
    sf0.1) → it is now the default; if a larger SF flips the trade, flip
    the flag, not the code."""
    d = load_table(spark, sf_dir, "documents")
    # 1. exact dedup: survivor = min doc_id per normalized-text fingerprint
    fp = F.md5(F.concat_ws(" ", T.tokens(F.lower(F.col("text")))))
    surv_ids = (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # survivors feed BOTH the near-dup stage and the gated output
    surv = d.join(surv_ids, "doc_id", "left_semi")
    if checkpoint_survivors:
        surv = surv.localCheckpoint(eager=False)
    # 2. near-dup removal: drop the higher id of each MinHash-LSH pair
    drops = (
        D.minhash_lsh_pairs(
            surv, "text", "doc_id", k=3, n_hashes=N_HASHES, bands=8,
            threshold=_EST_THRESHOLD,
        )
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )
    # NO broadcast hint on the drop set: it is corpus-proportional
    # (dup-rate × corpus — billions of ids at 100 TB) and would OOM the
    # driver if hint-forced. Unhinted, the anti-join shuffles on doc_id
    # (co-partitioned with the semi-join above), and AQE still converts
    # to a runtime broadcast when the ACTUAL built size is small — the
    # stats-driven decision scales; the hint does not (VERDICT r10 #1).
    kept = surv.join(drops, "doc_id", "left_anti")
    # 3. language + quality gates (pure map filters). NOTE (r13): the
    # staged-_toks form (one projection holding the token array, as the
    # v2/v3 capstones use under their narrow gate checkpoint) was
    # A/B-measured here and REVERTED for this pipeline: interleaved
    # medians at sf0.1 were 3.37 s unstaged vs 3.77 s staged in recompute
    # mode and a wash (3.09 vs 3.05) in checkpoint mode — without the
    # checkpoint boundary the extra projection only grows the plan.
    gated = (
        kept.filter(F.col("lang") == "en")
        .withColumn(
            "quality", F.round(T.quality_score(F.col("text"), _STOPWORDS["en"]), 6)
        )
        .filter(F.col("quality") >= _QUALITY_THRESHOLD)
    )
    # 4. per-source corpus rollup
    return (
        gated.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum(F.size(T.tokens(F.col("text")))).alias("total_tokens"),
            davg("quality").alias("mean_quality"),
        )
        .orderBy("source")
    )


#: per-source sampling rates for the mixing query (out of 256 md5 buckets)
_MIX_BUCKETS = {"src0": 256, "src1": 128, "src2": 64}  # 100% / 50% / 25%
_MIX_DEFAULT = 32  # 12.5% for every other source


def pipeline_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: each source is
    down-sampled at its own rate (the data-mixing stage of a training
    pipeline — e.g. keep all of a high-quality source, 12.5% of a noisy
    crawl). The keep-decision is an md5 bucket of the document id —
    engine-portable, reproducible across reruns/retries, pushdown-friendly
    (a per-row predicate, no global state), and exactly oracled, unlike
    rand()-based sampling."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
                    ).cast("int")
    threshold = F.lit(_MIX_DEFAULT)
    for src, t in _MIX_BUCKETS.items():
        threshold = F.when(F.col("source") == src, t).otherwise(threshold)
    kept = d.filter(bucket < threshold)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum(F.size(T.tokens(F.col("text")))).alias("tokens_kept"),
        )
        .orderBy("source")
    )


_TEMP_FRAC = 0.4  # target corpus size as a fraction of the input


def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (the multilingual-LM α-sampling
    scheme, α = 0.5): per-source keep-rates are DERIVED from the data —
    share(s) = sqrt(n_s) / Σ_t sqrt(n_t), so small sources are
    up-weighted relative to their raw frequency — then applied as the
    same deterministic md5-bucket predicate as pipeline_source_mix.

    Determinism: sqrt is IEEE-exact, the only float SUM (Σ sqrt(n_t))
    folds over a source-sorted array, and the final keep threshold is an
    integer floor — bit-identical on both engines, no rand().

    Scale shape: source counts are one tiny agg; the per-source rate
    table is a handful of rows crossJoin-broadcast back; the keep
    decision is a per-row predicate that pushes into the scan."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    stats = cnt.agg(
        F.sum("n").alias("n_total"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "n"))),
                lambda s: F.sqrt(s["n"].cast("double")),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("ssum"),
    )
    rated = cnt.crossJoin(F.broadcast(stats))
    target = F.floor(F.lit(_TEMP_FRAC) * F.col("n_total")).cast("double")
    rate = F.least(
        F.lit(1.0),
        target * F.sqrt(F.col("n").cast("double")) / F.col("ssum") / F.col("n"),
    )
    rates = rated.select(
        "source", "n", F.floor(F.lit(256.0) * rate).cast("int").alias("thr")
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    kept = d.join(F.broadcast(rates), "source").filter(bucket < F.col("thr"))
    return (
        kept.groupBy("source")
        .agg(
            F.first("n").alias("n_docs"),
            F.first("thr").alias("thr"),
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum(F.size(T.tokens(F.col("text")))).alias("tokens_kept"),
        )
        .orderBy("source")
    )


def pipeline_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check (the eval-decontamination stage of a
    training-data pipeline): flag training documents sharing any 3-word
    shingle with a held-out eval set (here: doc_id % 97 == 0).

    Scale shape: the eval shingle set is benchmark-sized (small by
    definition) → broadcast; the training side streams map-side through
    the broadcast hash join — NO shuffle of the corpus. Overlap counts
    aggregate per doc after the join, carrying only (doc_id) rows."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(T.word_shingles(T.tokens(F.col("text")), 3))
        ).alias("s"),
    )
    is_eval = F.col("doc_id") % 97 == 0
    eval_sh = sh.filter(is_eval).select("s").distinct()
    overlap = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        d.filter(~is_eval)
        .select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def pipeline_training_prep_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recompute-mode twin of pipeline_training_prep — same result, same
    oracle; exists so BENCH records both sides of the trade each round."""
    return pipeline_training_prep(spark, sf_dir, checkpoint_survivors=False)


_PACK_TOKENS = 1024
#: md5-bucket split bounds out of 100: <90 train, <95 val, else test
_SPLIT_BOUNDS = (90, 95)


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.pack_sequences): every document
    assigned to a fixed 1024-token pack by deterministic contiguous fill
    in doc_id order — exactly oracled because the assignment is a pure
    function of the exclusive token prefix sum."""
    from quackspark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return pack_sequences(counted, "n_tokens", "doc_id", _PACK_TOKENS).orderBy(
        "doc_id"
    )


def pipeline_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack rollup of the packing assignment: docs per pack, tokens
    per pack, and the fill ratio a trainer sees per window."""
    from quackspark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(counted, "n_tokens", "doc_id", _PACK_TOKENS)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .withColumn(
            "fill_ratio",
            F.round(F.col("pack_tokens") / F.lit(_PACK_TOKENS), 6),
        )
        .orderBy("pack_id")
    )


def pipeline_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: md5 bucket of doc_id out of
    100 → <90 train, <95 val, else test. Engine-portable, reproducible,
    pushdown-friendly (per-row predicate, like pipeline_source_mix);
    rolled up per (split, source)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(100),
    )
    split = (
        F.when(bucket < _SPLIT_BOUNDS[0], "train")
        .when(bucket < _SPLIT_BOUNDS[1], "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "source", "text")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(T.tokens(F.col("text")))).alias("n_tokens"),
        )
        .orderBy("split", "source")
    )


def _mix_bucket() -> F.Column:
    """The deterministic 256-bucket md5 hash of doc_id shared by every
    mixing stage (engine-portable; mirrored in the SQL oracles)."""
    return F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")


def _temperature_mix_rollup(
    gated: DataFrame, *, removed_col: str | None = None
) -> DataFrame:
    """α=0.5 temperature mix + per-source rollup over a gated per-doc
    frame (doc_id, source, quality, _ntok[, removed_col]) as ONE linear
    plan (r14, guide §2.4/§7.2 — VERDICT r13 #3).

    The r13 joined form fed the gate frame to THREE consumers (mix-rate
    count, stats fold, mixed rollup); Catalyst planned a full copy of the
    expensive gate subtree per consumer (divergent column pruning defeats
    ReuseExchange — the three copies' exchanges are not canonically
    equal), which r13 worked around with a narrow-gate localCheckpoint —
    a construction-time boundary that materialized every stage below it
    per bench run. Here the gate output is pre-aggregated once per
    (source, md5-bucket) — ≤256·|sources| rows — and the rates/thresholds
    are derived from that tiny frame with two window passes, so the gate
    subtree has exactly ONE consumer and needs no checkpoint at all
    (plan pinned by tests/test_opt_r13.py::test_single_pass_mix_identical;
    results oracle-checked by tests/test_oracle_parity.py):
    - per-(source,bucket) partials are exact (counts, long token sums,
      dsum_part micro-unit/decimal quality sums), so the two-level
      rollup equals the one-level one the oracle computes;
    - ssum is the same array_sort → sqrt → left-fold over the (source, n)
      structs (collect_set dedups the per-bucket repeats; one struct per
      source, same sort order).
    """
    bucket = _mix_bucket()
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum("_ntok").alias("_t"),
        dsum_part("quality").alias("_q"),
        # davg's denominator is count(quality) — non-null only. The gate
        # filter makes quality non-null on every row here, but keep davg's
        # denominator exactly rather than assume it.
        F.count("quality").alias("_nq"),
    ]
    if removed_col:
        aggs.append(F.sum(removed_col).alias("_r"))
    b = gated.groupBy("source", bucket.alias("_b")).agg(*aggs)
    w_src = Window.partitionBy("source")
    w_all = Window.partitionBy()
    b = b.withColumn("_nsrc", F.sum("_n").over(w_src))
    b = b.withColumn("_ntotal", F.sum("_n").over(w_all)).withColumn(
        "_srcs",
        F.array_sort(
            F.collect_set(
                F.struct(F.col("source"), F.col("_nsrc").alias("n"))
            ).over(w_all)
        ),
    )
    ssum = F.aggregate(
        F.transform(F.col("_srcs"), lambda s: F.sqrt(s["n"].cast("double"))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    target = F.floor(F.lit(_TEMP_FRAC) * F.col("_ntotal")).cast("double")
    rate = F.least(
        F.lit(1.0),
        target * F.sqrt(F.col("_nsrc").cast("double")) / ssum / F.col("_nsrc"),
    )
    thr = F.floor(F.lit(256.0) * rate).cast("int")
    mixed = b.filter(F.col("_b") < thr)
    out_aggs = [
        F.sum("_n").alias("docs_kept"),
        F.sum("_t").alias("total_tokens"),
    ]
    if removed_col:
        out_aggs.append(F.sum("_r").alias("tokens_removed"))
    out_aggs.append(davg_merge("_q", "_nq").alias("mean_quality"))
    return mixed.groupBy("source").agg(*out_aggs).orderBy("source")


def pipeline_training_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 capstone: every curation stage this engine has, in
    ONE composition — exact dedup → MinHash-LSH pairs → connected-
    components clustering with QUALITY-AWARE survivor choice (longest
    member, operators/components.py) → language + quality gates →
    temperature (α=0.5) corpus mixing with data-derived rates → per-
    source rollup. The oracle replays all six stages in one SQL
    statement (recursive CTE for the clustering), so the differential
    check covers the full composition, not the stages in isolation.

    Scale shape: stages 1-2 are the dedup operators' shapes (fingerprint
    groupBy; banded candidate join; O(log² n) contraction rounds); the
    gates are map filters; the mix rates derive from one per-(source,
    bucket) pre-aggregate (see _temperature_mix_rollup). The cluster
    stage's iterative actions run on the PAIR graph, never the corpus."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", T.tokens(F.lower(F.col("text")))))
    surv_ids = (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = d.join(surv_ids, "doc_id", "left_semi").localCheckpoint(eager=False)
    pairs = D.minhash_lsh_pairs(
        surv, "text", "doc_id", k=3, n_hashes=N_HASHES, bands=8,
        threshold=_EST_THRESHOLD,
    )
    cc = CC.connected_components(pairs, "d1", "d2")
    docs = surv.select(F.col("doc_id").alias("doc"), F.length("text").alias("len"))
    lab = docs.join(cc, docs["doc"] == cc["node"], "left").select(
        "doc", "len", F.coalesce("comp", "doc").alias("comp")
    )
    best = lab.groupBy("comp").agg(
        F.min(F.struct((-F.col("len")).alias("nl"), F.col("doc").alias("d"))).alias("b")
    )
    keep_ids = best.select(F.col("b.d").alias("doc_id"))
    # NO broadcast hint: keep_ids ≈ the whole deduped corpus (one id per
    # cluster) — hint-forcing it onto the driver is the 100 TB OOM the
    # r10 verdict flagged. Shuffled semi-join on doc_id instead; AQE may
    # still broadcast at runtime when the actual size is small.
    kept = surv.join(keep_ids, "doc_id", "left_semi")
    # tokens staged once per doc (see pipeline_training_prep's gate note)
    gated = (
        kept.filter(F.col("lang") == "en")
        .withColumn("_toks", T.tokens(F.col("text")))
        .withColumn(
            "quality",
            F.round(
                T.quality_score_toks(
                    F.col("text"), F.col("_toks"), _STOPWORDS["en"]
                ),
                6,
            ),
        )
        .filter(F.col("quality") >= _QUALITY_THRESHOLD)
    )
    # Narrow per-doc gate output — id, source, quality, token count;
    # never the text. r14 (VERDICT r13 #3): the temperature mix runs as
    # ONE linear plan over a per-(source, bucket) pre-aggregate
    # (_temperature_mix_rollup), so the expensive gate subtree has a
    # single consumer and the r13 narrow-gate localCheckpoint — a
    # construction-time boundary that materialized every stage below it
    # per bench run — is gone.
    gated = gated.select(
        "doc_id", "source", "quality", F.size(F.col("_toks")).alias("_ntok")
    )
    return _temperature_mix_rollup(gated)


def pipeline_training_prep_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation product (r12 verdict directive #1): exact dedup
    → exact-substring span scrub of the survivors → MinHash-LSH near-dup
    pairs over the SCRUBBED text → connected-components clustering with
    longest-member survivor → language + quality gates (quality scored on
    the scrubbed text) → α=0.5 temperature mix → per-source rollup that
    also carries the scrub shrinkage. Every stage is an already-oracled
    operator; this composition is the one the 5 M-doc scale record
    (`tools/scale.py pipeline` → SCALE_PIPELINE.json) executes.

    Scale shape: stage shuffles are (1) the md5-128 fingerprint groupBy,
    (2) span scrub's ONE uniform window-hash shuffle + doc-keyed span
    merge (corpus text never shuffles for the merge), (3) the LSH
    shingle explode + band-key join (collision-bounded, hot-shingle
    guard), (4) O(log² n) contraction rounds on the PAIR graph only,
    (5) doc_id-keyed semi-joins for the survivor/keep gates, (6) a tiny
    per-(source, bucket) pre-aggregate for the mix rates."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", T.tokens(F.lower(F.col("text")))))
    surv_ids = (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = d.join(surv_ids, "doc_id", "left_semi").localCheckpoint(eager=False)
    scrubbed = D.span_scrub(surv, "text", "doc_id", window_tokens=15)
    sdocs = (
        scrubbed.join(
            surv.select(F.col("doc_id").alias("doc"), "lang", "source"), "doc"
        )
        .select(
            F.col("doc").alias("doc_id"),
            F.col("kept_text").alias("text"),
            "lang", "source", "n_tokens", "n_removed",
        )
        .localCheckpoint(eager=False)
    )
    pairs = D.minhash_lsh_pairs(
        sdocs, "text", "doc_id", k=3, n_hashes=N_HASHES, bands=8,
        threshold=_EST_THRESHOLD,
    )
    cc = CC.connected_components(pairs, "d1", "d2")
    docs = sdocs.select(
        F.col("doc_id").alias("doc"), F.length("text").alias("len")
    )
    lab = docs.join(cc, docs["doc"] == cc["node"], "left").select(
        "doc", "len", F.coalesce("comp", "doc").alias("comp")
    )
    best = lab.groupBy("comp").agg(
        F.min(
            F.struct((-F.col("len")).alias("nl"), F.col("doc").alias("d"))
        ).alias("b")
    )
    keep_ids = best.select(F.col("b.d").alias("doc_id"))
    # same no-broadcast-hint reasoning as v2: keep_ids ≈ deduped corpus
    kept = sdocs.join(keep_ids, "doc_id", "left_semi")
    # tokens staged once per doc (see pipeline_training_prep's gate note)
    gated = (
        kept.filter(F.col("lang") == "en")
        .withColumn("_toks", T.tokens(F.col("text")))
        .withColumn(
            "quality",
            F.round(
                T.quality_score_toks(
                    F.col("text"), F.col("_toks"), _STOPWORDS["en"]
                ),
                6,
            ),
        )
        .filter(F.col("quality") >= _QUALITY_THRESHOLD)
    )
    # narrow per-doc gate output (id/source/quality/token-count/
    # n_removed, never the text); single-pass mix as in v2 (r14) — the
    # gate subtree has one consumer, no checkpoint boundary needed
    gated = gated.select(
        "doc_id", "source", "quality",
        F.size(F.col("_toks")).alias("_ntok"), "n_removed",
    )
    return _temperature_mix_rollup(gated, removed_col="n_removed")


#: negatives per document for contrastive-pair sampling
_NEG_K = 3


def pipeline_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each document draws _NEG_K pseudo-random partners via an md5 stream
    (reproducible across retries/engines — the property a distributed
    sampler must have, since rand() re-rolls on task retry), self-hits
    shift by one, and the partner's metadata is fetched with ONE join
    keyed by the uniform negative id. Corpus size joins in-plan as a
    broadcast 1-row aggregate — no driver round-trip.

    Scale shape: k·N rows shuffled once on an md5-uniform key — the
    standard negatives-fetch join; nothing quadratic, nothing skewed."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.agg(F.count(F.lit(1)).alias("n_corpus"))
    pairs = (
        d.select("doc_id")
        .crossJoin(F.broadcast(cnt))
        .select(
            "doc_id",
            "n_corpus",
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("j"),
        )
    )
    raw = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("j"))), 1, 8
        ),
        16,
        10,
    ).cast("long") % F.col("n_corpus")
    neg = F.when(raw == F.col("doc_id"), (raw + 1) % F.col("n_corpus")).otherwise(raw)
    picked = pairs.select(
        "doc_id", F.col("j").cast("long").alias("j"), neg.alias("neg_id")
    )
    meta = d.select(
        F.col("doc_id").alias("neg_id"),
        F.col("source").alias("neg_source"),
        F.col("lang").alias("neg_lang"),
    )
    return (
        picked.join(meta, "neg_id")
        .select("doc_id", "j", "neg_id", "neg_source", "neg_lang")
        .orderBy("doc_id", "j")
    )


def pipeline_span_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-scrub integrated into the curation pipeline: exact-substring
    scrub (operators/dedup.span_scrub — all but the corpus-first
    occurrence of every duplicated 15-token span cut) → language gate →
    quality scored over the SCRUBBED text → per-source rollup of corpus
    shrinkage and post-scrub quality. The oracle replays the whole
    composition (the shared scrub CTE chain + the quality twin) in one
    statement.

    Scale shape: the scrub stages are duplicate_spans' (one uniform
    window-hash shuffle + a doc-keyed span merge); the gate and scoring
    are map filters over the scrubbed text; the rollup is a tiny agg."""
    from quackspark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    scrubbed = D.span_scrub(d, "text", "doc_id", window_tokens=15)
    joined = scrubbed.join(
        d.select(F.col("doc_id").alias("doc"), "source", "lang"), "doc"
    )
    # tokens staged in their own projection so the whitespace split runs
    # once, not once per ratio term (quality_score_toks docstring;
    # measured 15.3 s → 10.0 s at sf1, 2.6× → 1.7× vs the oracle)
    gated = (
        joined.filter(F.col("lang") == "en")
        .withColumn("_toks", T.tokens(F.col("kept_text")))
        .withColumn(
            "quality",
            F.round(
                T.quality_score_toks(
                    F.col("kept_text"), F.col("_toks"), _STOPWORDS["en"]
                ),
                6,
            ),
        )
    )
    return (
        gated.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_in"),
            F.sum("n_removed").alias("tokens_removed"),
            F.count(
                F.when(F.col("quality") >= _QUALITY_THRESHOLD, F.lit(1))
            ).alias("n_quality"),
            davg("quality").alias("mean_quality"),
        )
        .orderBy("source")
    )

#: Registration order is LOAD-BEARING: the driver's correctness gate
#: verifies only the first ``DRIVER_WINDOW`` entries of the round-robin
#: interleave in ``queries/__init__.py``, taking ONE oracled query per
#: module per pass — so this module's first two entries are its window
#: members. New queries must APPEND BELOW previously driver-verified
#: ones (VERDICT r13 #1: inserting pipeline_training_prep_v3 above
#: pipeline_negative_sampling silently swapped the latter out of driver
#: verification). Pinned by tests/test_driver_window_policy.py.
QUERIES = {
    "pipeline_training_prep_v2": pipeline_training_prep_v2,
    "pipeline_negative_sampling": pipeline_negative_sampling,
    "pipeline_training_prep_v3": pipeline_training_prep_v3,
    "pipeline_pack_sequences": pipeline_pack_sequences,
    "pipeline_pack_stats": pipeline_pack_stats,
    "pipeline_split": pipeline_split,
    "pipeline_contamination": pipeline_contamination,
    "pipeline_training_prep": pipeline_training_prep,
    "pipeline_training_prep_recompute": pipeline_training_prep_recompute,
    "pipeline_source_mix": pipeline_source_mix,
    "pipeline_temperature_mix": pipeline_temperature_mix,
    "pipeline_span_scrub_stats": pipeline_span_scrub_stats,
}


def _sql_quality() -> str:
    ntok = f"greatest(len({_TOKS}), 1)"
    nchar = "greatest(length(text), 1)"
    npunct = "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))"
    ndigit = "length(text) - length(regexp_replace(text, '[0123456789]', '', 'g'))"
    stop = f"CAST({_sql_hits(_TOKS, _STOPWORDS['en'])} AS DOUBLE) / {ntok}"
    punct = f"CAST({npunct} AS DOUBLE) / {nchar}"
    digit = f"CAST({ndigit} AS DOUBLE) / {nchar}"
    ttr = f"CAST(len(list_distinct({_TOKS})) AS DOUBLE) / {ntok}"
    return (
        f"(0.25 * least({stop} * 5, 1.0)"
        f" + 0.25 * (1 - least({punct} * 10, 1.0))"
        f" + 0.25 * (1 - least({digit} * 10, 1.0))"
        f" + 0.25 * {ttr})"
    )


ORACLES = {
    "pipeline_pack_sequences": f"""
        WITH t AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM t
        )
        SELECT doc_id, n_tokens,
               cum_before // {_PACK_TOKENS} AS pack_id,
               cum_before % {_PACK_TOKENS} AS offset_in_pack
        FROM c ORDER BY doc_id
    """,
    "pipeline_pack_stats": f"""
        WITH t AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM t
        )
        SELECT cum_before // {_PACK_TOKENS} AS pack_id,
               count(*) AS n_docs,
               sum(n_tokens) AS pack_tokens,
               round(CAST(sum(n_tokens) AS DOUBLE) / {_PACK_TOKENS}, 6)
                   AS fill_ratio
        FROM c GROUP BY 1 ORDER BY pack_id
    """,
    "pipeline_split": f"""
        SELECT CASE
                   WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        % 100 < {_SPLIT_BOUNDS[0]} THEN 'train'
                   WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        % 100 < {_SPLIT_BOUNDS[1]} THEN 'val'
                   ELSE 'test'
               END AS split,
               source,
               count(*) AS n_docs,
               CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY 1, 2 ORDER BY split, source
    """,
    "pipeline_contamination": f"""
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct({_SQL_SHINGLES3})) AS s
            FROM documents
        ), eval_sh AS (
            SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
        ), overlap AS (
            SELECT doc_id, count(*) AS n_overlap
            FROM sh JOIN eval_sh USING (s)
            WHERE doc_id % 97 <> 0
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(o.n_overlap, 0) AS n_overlap,
               coalesce(o.n_overlap, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN overlap o ON o.doc_id = d.doc_id
        WHERE d.doc_id % 97 <> 0
        ORDER BY d.doc_id
    """,
    "pipeline_source_mix": f"""
        SELECT source,
               count(*) AS docs_kept,
               CAST(sum(len({_TOKS})) AS BIGINT) AS tokens_kept
        FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT
              < (CASE source
                     WHEN 'src2' THEN {_MIX_BUCKETS["src2"]}
                     WHEN 'src1' THEN {_MIX_BUCKETS["src1"]}
                     WHEN 'src0' THEN {_MIX_BUCKETS["src0"]}
                     ELSE {_MIX_DEFAULT} END)
        GROUP BY source ORDER BY source
    """,
    "pipeline_training_prep": f"""
        WITH norm AS (
            SELECT doc_id, text, lang, source,
                   md5(list_aggregate({_TOKS_LOWER}, 'string_agg', ' ')) AS fp
            FROM documents
        ), surv AS (
            SELECT doc_id, text, lang, source FROM (
                SELECT *, min(doc_id) OVER (PARTITION BY fp) AS s FROM norm
            ) WHERE doc_id = s
        ), sig AS (
            SELECT doc_id AS doc,
                   {_sql_signature(f"list_distinct({_sql_shingles(_TOKS)})")} AS sig
            FROM surv
        ), banded AS (
            SELECT doc, sig, unnest({_sql_band_keys()}) AS band FROM sig
        ), drops AS (
            SELECT DISTINCT b.doc AS doc_id
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.doc < b.doc
            WHERE CAST(len(list_filter(generate_series(1, {N_HASHES}),
                                       i -> a.sig[i] = b.sig[i])) AS DOUBLE)
                  / {N_HASHES} >= {_EST_THRESHOLD}
        ), gated AS (
            SELECT doc_id, source, text, round({_sql_quality()}, 6) AS quality
            FROM surv
            WHERE lang = 'en'
              AND doc_id NOT IN (SELECT doc_id FROM drops)
        )
        SELECT source,
               count(*) AS docs_kept,
               CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
               {o_davg("quality")} AS mean_quality
        FROM gated
        WHERE quality >= {_QUALITY_THRESHOLD}
        GROUP BY source ORDER BY source
    """,
}

# identical result → identical oracle (materialization strategy is not
# observable in the output)
ORACLES["pipeline_training_prep_recompute"] = ORACLES["pipeline_training_prep"]


# temperature mix oracle: identical sqrt/fold/floor arithmetic — the only
# float sum (Σ sqrt n_t) folds over the source-sorted list on both sides
ORACLES["pipeline_temperature_mix"] = f"""
    WITH cnt AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source
    ), stats AS (
        SELECT sum(n) AS n_total,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(list(CAST(n AS DOUBLE) ORDER BY source),
                                  x -> sqrt(x))),
                   (a, b) -> a + b) AS ssum
        FROM cnt
    ), rates AS (
        SELECT source, n,
               CAST(floor(256.0 * least(1.0,
                   CAST(floor({_TEMP_FRAC} * n_total) AS DOUBLE)
                   * sqrt(CAST(n AS DOUBLE)) / ssum / n)) AS INT) AS thr
        FROM cnt CROSS JOIN stats
    )
    SELECT d.source, r.n AS n_docs, r.thr AS thr,
           count(*) AS docs_kept,
           CAST(sum(len({_TOKS})) AS BIGINT) AS tokens_kept
    FROM documents d JOIN rates r ON r.source = d.source
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT < r.thr
    GROUP BY d.source, r.n, r.thr ORDER BY d.source
"""


# capstone oracle: all six stages in one statement — exact dedup, LSH
# pairs, recursive-CTE clustering with longest-member survivor,
# lang/quality gates, α=0.5 temperature mix, per-source rollup
ORACLES["pipeline_negative_sampling"] = f"""
    WITH cnt AS (SELECT count(*) AS n_corpus FROM documents),
    pairs AS (
        SELECT doc_id, n_corpus, unnest(generate_series(0, {_NEG_K - 1})) AS j
        FROM documents CROSS JOIN cnt
    ), picked AS (
        SELECT doc_id, j,
               CASE WHEN raw = doc_id THEN (raw + 1) % n_corpus ELSE raw END
                   AS neg_id
        FROM (SELECT doc_id, j, n_corpus,
                     ('0x' || substr(md5(doc_id || ':' || j), 1, 8))::BIGINT
                         % n_corpus AS raw
              FROM pairs) _r
    )
    SELECT p.doc_id, CAST(p.j AS BIGINT) AS j, p.neg_id,
           d.source AS neg_source, d.lang AS neg_lang
    FROM picked p JOIN documents d ON p.neg_id = d.doc_id
    ORDER BY p.doc_id, p.j
"""

ORACLES["pipeline_training_prep_v2"] = f"""
    WITH RECURSIVE norm AS (
        SELECT doc_id, text, lang, source,
               md5(list_aggregate({_TOKS_LOWER}, 'string_agg', ' ')) AS fp
        FROM documents
    ), surv AS (
        SELECT doc_id, text, lang, source FROM (
            SELECT *, min(doc_id) OVER (PARTITION BY fp) AS s FROM norm
        ) WHERE doc_id = s
    ), sig AS (
        SELECT doc_id AS doc,
               {_sql_signature(f"list_distinct({_sql_shingles(_TOKS)})")} AS sig
        FROM surv
    ), banded AS (
        SELECT doc, sig, unnest({_sql_band_keys()}) AS band FROM sig
    ), pairs AS (
        SELECT DISTINCT a.doc AS d1, b.doc AS d2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.doc < b.doc
        WHERE CAST(len(list_filter(generate_series(1, {N_HASHES}),
                                   i -> a.sig[i] = b.sig[i])) AS DOUBLE)
              / {N_HASHES} >= {_EST_THRESHOLD}
    ), edges AS (
        SELECT d1 AS s, d2 AS t FROM pairs
        UNION SELECT d2, d1 FROM pairs
    ), reach(node, comp) AS (
        SELECT doc_id, doc_id FROM surv
        UNION
        SELECT e.s, r.comp
        FROM reach r JOIN edges e ON e.t = r.node
        WHERE r.comp < e.s
    ), cc AS (
        SELECT node AS doc, min(comp) AS comp FROM reach GROUP BY node
    ), lab AS (
        SELECT cc.doc, cc.comp, length(s.text) AS len
        FROM cc JOIN surv s ON s.doc_id = cc.doc
    ), best AS (
        SELECT doc AS doc_id FROM (
            SELECT comp, doc,
                   row_number() OVER (PARTITION BY comp
                                      ORDER BY len DESC, doc) AS rk
            FROM lab
        ) _r WHERE rk = 1
    ), gated AS (
        SELECT s.doc_id, s.source, s.text,
               round({_sql_quality()}, 6) AS quality
        FROM surv s JOIN best USING (doc_id)
        WHERE s.lang = 'en'
    ), gq AS (
        SELECT * FROM (SELECT doc_id, source, text, quality FROM gated) _g
        WHERE quality >= {_QUALITY_THRESHOLD}
    ), cnt AS (
        SELECT source, count(*) AS n FROM gq GROUP BY source
    ), stats AS (
        SELECT sum(n) AS n_total,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(list(CAST(n AS DOUBLE) ORDER BY source),
                                  x -> sqrt(x))),
                   (a, b) -> a + b) AS ssum
        FROM cnt
    ), rates AS (
        SELECT source,
               CAST(floor(256.0 * least(1.0,
                   CAST(floor({_TEMP_FRAC} * n_total) AS DOUBLE)
                   * sqrt(CAST(n AS DOUBLE)) / ssum / n)) AS INT) AS thr
        FROM cnt CROSS JOIN stats
    ), mixed AS (
        SELECT g.* FROM gq g JOIN rates r ON r.source = g.source
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT < r.thr
    )
    SELECT source,
           count(*) AS docs_kept,
           CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
           {o_davg("quality")} AS mean_quality
    FROM mixed
    GROUP BY source ORDER BY source
"""


def _v3_oracle() -> str:
    """v3 capstone oracle: v2's six stages with the span-scrub CTE chain
    spliced in over the exact-dedup survivors — the LSH/clustering/gates/
    mix all read the SCRUBBED text, exactly like the Spark plan."""
    from quackspark.queries.dedup import sql_span_scrub_ctes

    scrub = sql_span_scrub_ctes("(SELECT doc_id, text FROM surv)")
    return f"""
    WITH RECURSIVE norm AS (
        SELECT doc_id, text, lang, source,
               md5(list_aggregate({_TOKS_LOWER}, 'string_agg', ' ')) AS fp
        FROM documents
    ), surv AS (
        SELECT doc_id, text, lang, source FROM (
            SELECT *, min(doc_id) OVER (PARTITION BY fp) AS s FROM norm
        ) WHERE doc_id = s
    ), {scrub},
    sdocs AS (
        SELECT s.doc AS doc_id, s.kept_text AS text, d.lang, d.source,
               s.n_tokens, s.n_removed
        FROM scr s JOIN surv d ON d.doc_id = s.doc
    ), sig AS (
        SELECT doc_id AS doc,
               {_sql_signature(f"list_distinct({_sql_shingles(_TOKS)})")} AS sig
        FROM sdocs
    ), banded AS (
        SELECT doc, sig, unnest({_sql_band_keys()}) AS band FROM sig
    ), pairs AS (
        SELECT DISTINCT a.doc AS d1, b.doc AS d2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.doc < b.doc
        WHERE CAST(len(list_filter(generate_series(1, {N_HASHES}),
                                   i -> a.sig[i] = b.sig[i])) AS DOUBLE)
              / {N_HASHES} >= {_EST_THRESHOLD}
    ), edges AS (
        SELECT d1 AS s, d2 AS t FROM pairs
        UNION SELECT d2, d1 FROM pairs
    ), reach(node, comp) AS (
        SELECT doc_id, doc_id FROM sdocs
        UNION
        SELECT e.s, r.comp
        FROM reach r JOIN edges e ON e.t = r.node
        WHERE r.comp < e.s
    ), cc AS (
        SELECT node AS doc, min(comp) AS comp FROM reach GROUP BY node
    ), lab AS (
        SELECT cc.doc, cc.comp, length(s.text) AS len
        FROM cc JOIN sdocs s ON s.doc_id = cc.doc
    ), best AS (
        SELECT doc AS doc_id FROM (
            SELECT comp, doc,
                   row_number() OVER (PARTITION BY comp
                                      ORDER BY len DESC, doc) AS rk
            FROM lab
        ) _r WHERE rk = 1
    ), gated AS (
        SELECT s.doc_id, s.source, s.text, s.n_removed,
               round({_sql_quality()}, 6) AS quality
        FROM sdocs s JOIN best USING (doc_id)
        WHERE s.lang = 'en'
    ), gq AS (
        SELECT * FROM (
            SELECT doc_id, source, text, n_removed, quality FROM gated
        ) _g
        WHERE quality >= {_QUALITY_THRESHOLD}
    ), cnt AS (
        SELECT source, count(*) AS n FROM gq GROUP BY source
    ), stats AS (
        SELECT sum(n) AS n_total,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(list(CAST(n AS DOUBLE) ORDER BY source),
                                  x -> sqrt(x))),
                   (a, b) -> a + b) AS ssum
        FROM cnt
    ), rates AS (
        SELECT source,
               CAST(floor(256.0 * least(1.0,
                   CAST(floor({_TEMP_FRAC} * n_total) AS DOUBLE)
                   * sqrt(CAST(n AS DOUBLE)) / ssum / n)) AS INT) AS thr
        FROM cnt CROSS JOIN stats
    ), mixed AS (
        SELECT g.* FROM gq g JOIN rates r ON r.source = g.source
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT < r.thr
    )
    SELECT source,
           count(*) AS docs_kept,
           CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
           CAST(sum(n_removed) AS BIGINT) AS tokens_removed,
           {o_davg("quality")} AS mean_quality
    FROM mixed
    GROUP BY source ORDER BY source
    """


ORACLES["pipeline_training_prep_v3"] = _v3_oracle()


def _scrub_stats_oracle() -> str:
    from quackspark.queries.dedup import SQL_SPAN_SCRUB_CTES

    return f"""
    WITH {SQL_SPAN_SCRUB_CTES},
    scored AS (
        -- the quality twin references the column name `text`, so the
        -- scrubbed text is presented AS text in its own scope (a join
        -- with documents.text in scope would be ambiguous)
        SELECT doc, n_tokens, n_removed, round({_sql_quality()}, 6) AS quality
        FROM (SELECT doc, n_tokens, n_removed, kept_text AS text FROM scr) _q
    ),
    gated AS (
        SELECT d.source, s.n_tokens, s.n_removed, s.quality
        FROM scored s
        JOIN documents d ON d.doc_id = s.doc
        WHERE d.lang = 'en'
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_in,
           CAST(sum(n_removed) AS BIGINT) AS tokens_removed,
           CAST(count(CASE WHEN quality >= {_QUALITY_THRESHOLD} THEN 1 END)
                AS BIGINT) AS n_quality,
           {o_davg('quality')} AS mean_quality
    FROM gated GROUP BY source ORDER BY source
    """


ORACLES["pipeline_span_scrub_stats"] = _scrub_stats_oracle()
