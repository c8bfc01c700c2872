"""Deduplication queries over `documents` (operators/dedup.py): exact,
n-gram Jaccard, MinHash+LSH, SimHash. Each has a full SQL oracle — the
DuckDB side recomputes the same md5-derived hashes, so the differential
check verifies the *operator semantics*, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quackspark.operators import components as C
from quackspark.operators import dedup as D
from quackspark.queries._util import load_table

N_HASHES = 16
BANDS = 8
ROWS = N_HASHES // BANDS
K = 3
HOT_DF = D.HOT_SHINGLE_DF

#: SQL mirror of operators/dedup._doc_sample_pred + the scaled cutoff:
#: hot-shingle detection runs on the deterministic 1/20 doc sample
_GUARD_SQL = (
    "SELECT s FROM sh0 "
    "WHERE ('0x' || substr(md5(CAST(doc AS VARCHAR)), 1, 8))::BIGINT "
    f"% {D.GUARD_SAMPLE_MOD} = 0 "
    f"GROUP BY s HAVING count(*) > {HOT_DF // D.GUARD_SAMPLE_MOD}"
)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        D.exact_dedup(d, "text", "doc_id")
        .select("fp", "survivor", "dupes")
        .orderBy("survivor")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, "text", "doc_id", k=K, threshold=0.2).orderBy(
        "d1", "d2"
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "text", "doc_id", k=K, n_hashes=N_HASHES, bands=BANDS, threshold=0.25
    ).orderBy("d1", "d2")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_docs(d, "text", "doc_id").orderBy("doc")


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hamming-distance pairs (operators/dedup.simhash_pairs) — a
    loose distance bound so the candidate join is non-trivially exercised
    on the synthetic corpus."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(d, "text", "doc_id", max_distance=8).orderBy("d1", "d2")


def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-style chunk dedup (operators/dedup.chunk_dedup): 8-word
    chunks, first occurrence corpus-wide survives, text reassembled."""
    d = load_table(spark, sf_dir, "documents")
    return D.chunk_dedup(d, "text", "doc_id", chunk_words=8).orderBy("doc")


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters*: MinHash-LSH candidate pairs → connected
    components (operators/components.py, alternating large/small-star)
    → one survivor (min doc_id) per component, singletons included.
    The oracle computes the same components with a recursive CTE
    (min-label propagation), so the differential check verifies the
    graph contraction itself, not just row counts."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", k=K, n_hashes=N_HASHES, bands=BANDS, threshold=0.25
    )
    cc = C.connected_components(pairs, "d1", "d2")
    docs = d.select(F.col("doc_id").alias("doc"))
    lab = docs.join(cc, docs["doc"] == cc["node"], "left").select(
        "doc", F.coalesce("comp", "doc").alias("comp")
    )
    sizes = lab.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        lab.join(sizes, "comp")
        .select(
            "doc",
            "comp",
            (F.col("doc") == F.col("comp")).cast("int").alias("is_survivor"),
            "cluster_size",
        )
        .orderBy("doc")
    )


def dedup_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: same connected components as
    dedup_cluster_components, but the survivor per cluster is the
    HIGHEST-QUALITY member (longest text, doc id tiebreak), not the
    smallest id — the policy real dedup pipelines want. One extra
    per-cluster argmax (min of an inverted sort key), no extra pass
    over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", k=K, n_hashes=N_HASHES, bands=BANDS, threshold=0.25
    )
    cc = C.connected_components(pairs, "d1", "d2")
    docs = d.select(F.col("doc_id").alias("doc"), F.length("text").alias("len"))
    lab = docs.join(cc, docs["doc"] == cc["node"], "left").select(
        "doc", "len", F.coalesce("comp", "doc").alias("comp")
    )
    best = lab.groupBy("comp").agg(
        F.min(F.struct((-F.col("len")).alias("nl"), F.col("doc").alias("d"))).alias(
            "b"
        )
    )
    return (
        lab.join(best, "comp")
        .select(
            "doc",
            "comp",
            F.col("b.d").alias("survivor"),
            (F.col("doc") == F.col("b.d")).cast("int").alias("keep"),
        )
        .orderBy("doc")
    )




def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (operators/dedup.duplicate_spans,
    Lee et al. 2022 re-expressed window-wise): 15-token sliding windows
    occurring >1 time corpus-wide, merged into maximal per-doc spans."""
    d = load_table(spark, sf_dir, "documents")
    return D.duplicate_spans(d, "text", "doc_id", window_tokens=15).orderBy(
        "doc", "span_start"
    )


def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actionable exact-substring dedup (operators/dedup.span_scrub):
    all but the corpus-first occurrence of every duplicated 15-token
    span are cut; surviving tokens re-joined."""
    d = load_table(spark, sf_dir, "documents")
    return D.span_scrub(d, "text", "doc_id", window_tokens=15).orderBy("doc")

QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_cluster_components": dedup_cluster_components,
    "dedup_cluster_best": dedup_cluster_best,
    "dedup_chunks": dedup_chunks,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_duplicate_spans": dedup_duplicate_spans,
    "dedup_span_scrub": dedup_span_scrub,
}

# --- oracle SQL builders (mirror the Spark constructions hash-for-hash) ---

_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')"
_TOKS_LOWER = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '')"


def _sql_shingles(toks: str, k: int = K) -> str:
    parts = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return (
        f"(SELECT CASE WHEN len(t) < {k} THEN [] "
        f"ELSE list_transform(generate_series(1, len(t) - {k - 1}), i -> {parts}) "
        f"END FROM (SELECT {toks} AS t) _sh)"
    )


def _sql_md5_int(expr: str, seed: int | None = None) -> str:
    inner = f"'{seed}|' || {expr}" if seed is not None else expr
    return f"('0x' || substr(md5({inner}), 1, 8))::BIGINT"


def _sql_hash_family(expr: str, i: int) -> str:
    """Mirror of operators.dedup.md5_hash_family: one digest per shingle,
    16 lanes via (A_i * lane + B_i) mod (2^31 - 1)."""
    j = i % 4
    lane = f"('0x' || substr(md5({expr}), {8 * j + 1}, 8))::BIGINT"
    return f"(({D._MIX_A[i]} * {lane} + {D._MIX_B[i]}) % {D._MERSENNE31})"


def _sql_signature(shingles: str) -> str:
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> {_sql_hash_family('s', i)}))"
        for i in range(N_HASHES)
    )
    return f"(SELECT [{mins}] FROM (SELECT {shingles} AS sh) _sig)"


def _sql_band_keys() -> str:
    keys = []
    for b in range(BANDS):
        vals = " || ',' || ".join(f"sig[{b * ROWS + r + 1}]" for r in range(ROWS))
        keys.append(f"'{b}:' || {vals}")
    return "[" + ", ".join(keys) + "]"


def _sql_simhash(toks: str) -> str:
    codes = f"list_transform({toks}, t -> {_sql_md5_int('t')})"
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(codes, c -> "
        f"CASE WHEN (c >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return f"(SELECT {bits} FROM (SELECT {codes} AS codes) _simh)"


ORACLES = {
    "dedup_chunks": f"""
        WITH toked AS (
            SELECT doc_id AS doc, {_TOKS} AS t FROM documents
        ), numbered AS (
            SELECT doc, t,
                   unnest(generate_series(1, CAST(ceil(len(t) / 8.0) AS INT)))
                       AS g
            FROM toked
        ), ch AS (
            SELECT doc, g - 1 AS pos,
                   list_aggregate(t[(g - 1) * 8 + 1 : least(g * 8, len(t))],
                                  'string_agg', ' ') AS chunk
            FROM numbered
        ), kept AS (
            SELECT doc, pos, chunk,
                   row_number() OVER (PARTITION BY chunk ORDER BY doc, pos)
                       AS rk
            FROM ch
        ), re AS (
            SELECT doc, count(*) AS n_kept,
                   string_agg(chunk, ' ' ORDER BY pos) AS kept_text
            FROM kept WHERE rk = 1 GROUP BY doc
        )
        SELECT t.doc, CAST(ceil(len(t.t) / 8.0) AS BIGINT) AS n_chunks,
               coalesce(re.n_kept, 0) AS n_kept,
               coalesce(re.kept_text, '') AS kept_text
        FROM toked t LEFT JOIN re ON re.doc = t.doc
        ORDER BY t.doc
    """,
    "dedup_exact": f"""
        SELECT md5(list_aggregate({_TOKS_LOWER}, 'string_agg', ' ')) AS fp,
               min(doc_id) AS survivor,
               count(*) AS dupes
        FROM documents
        GROUP BY 1 ORDER BY survivor
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh0 AS (
            SELECT doc_id AS doc,
                   unnest(list_distinct({_sql_shingles(_TOKS)})) AS s
            FROM documents
        ), sh AS (
            -- hot-shingle guard (operators/dedup.drop_hot_shingles):
            -- sampled DF-cutoff, inert on the fixture (max DF 7)
            SELECT doc, s FROM sh0
            WHERE s NOT IN ({_GUARD_SQL})
        ), sizes AS (
            SELECT doc, count(*) AS nsh FROM sh GROUP BY doc
        ), inter AS (
            SELECT a.doc AS d1, b.doc AS d2, count(*) AS ninter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
            GROUP BY 1, 2
        )
        SELECT d1, d2,
               round(CAST(ninter AS DOUBLE) / (sa.nsh + sb.nsh - ninter), 6)
                   AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc = d1
        JOIN sizes sb ON sb.doc = d2
        WHERE CAST(ninter AS DOUBLE) / (sa.nsh + sb.nsh - ninter) >= 0.2
        ORDER BY d1, d2
    """,
    "dedup_minhash_lsh": f"""
        WITH sh0 AS (
            SELECT doc_id AS doc,
                   unnest(list_distinct({_sql_shingles(_TOKS)})) AS s
            FROM documents
        ), sh AS (
            -- hot-shingle guard, mirrors operators/dedup.drop_hot_shingles
            -- (sampled DF detection, same md5 doc-sample predicate)
            SELECT doc, s FROM sh0
            WHERE s NOT IN ({_GUARD_SQL})
        ), sig AS (
            -- map-reduce signature shape, mirrors _lane_signature:
            -- min per hash lane over the guarded exploded shingles
            SELECT doc,
                   [{", ".join(f"min({_sql_hash_family('s', i)})" for i in range(N_HASHES))}]
                       AS sig
            FROM sh GROUP BY doc
        ), banded AS (
            SELECT doc, sig, unnest({_sql_band_keys()}) AS band FROM sig
        ), cand AS (
            SELECT DISTINCT a.doc AS d1, b.doc AS d2,
                   a.sig AS sig1, b.sig AS sig2
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.doc < b.doc
        )
        SELECT d1, d2,
               round(CAST(len(list_filter(generate_series(1, {N_HASHES}),
                                          i -> sig1[i] = sig2[i])) AS DOUBLE)
                     / {N_HASHES}, 6) AS est_jaccard
        FROM cand
        WHERE CAST(len(list_filter(generate_series(1, {N_HASHES}),
                                   i -> sig1[i] = sig2[i])) AS DOUBLE)
              / {N_HASHES} >= 0.25
        ORDER BY d1, d2
    """,
    "dedup_simhash_pairs": f"""
        WITH sh AS (
            SELECT doc_id AS doc, {_sql_simhash(_TOKS_LOWER)} AS simhash
            FROM documents
        ), banded AS (
            SELECT doc, simhash,
                   unnest([{", ".join(f"'{b}:' || ((simhash >> {8 * b}) & 255)" for b in range(4))}])
                       AS bk
            FROM sh
        ), cand AS (
            SELECT DISTINCT a.doc AS d1, b.doc AS d2,
                   a.simhash AS s1, b.simhash AS s2
            FROM banded a JOIN banded b
              ON a.bk = b.bk AND a.doc < b.doc
        )
        SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(s1, s2)) <= 8
        ORDER BY d1, d2
    """,
    "dedup_simhash": f"""
        SELECT doc_id AS doc,
               {_sql_simhash(_TOKS_LOWER)} AS simhash,
               ({_sql_simhash(_TOKS_LOWER)} >> 0) & 255 AS band0,
               ({_sql_simhash(_TOKS_LOWER)} >> 8) & 255 AS band1,
               ({_sql_simhash(_TOKS_LOWER)} >> 16) & 255 AS band2,
               ({_sql_simhash(_TOKS_LOWER)} >> 24) & 255 AS band3
        FROM documents ORDER BY doc
    """,
}

# Connected components over the SAME minhash pair query, as a recursive
# CTE doing min-label propagation: seed (node, node); a label c flows
# across edge t->s only when c < s (any c >= s can never lower s's min,
# and the true component min is < every other member, so it propagates
# unobstructed). The DISTINCT semantics of recursive UNION bound the
# state to (node, label) pairs -> guaranteed termination. This is the
# single-node idiom our operators/components.py star-contraction
# replaces at scale (quadratic on chains vs O(log^2 n) rounds).
ORACLES["dedup_cluster_components"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT d1, d2 FROM ({ORACLES["dedup_minhash_lsh"]}) _mp
    ), edges AS (
        SELECT d1 AS s, d2 AS t FROM pairs
        UNION SELECT d2, d1 FROM pairs
    ), reach(node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.s, r.comp
        FROM reach r JOIN edges e ON e.t = r.node
        WHERE r.comp < e.s
    ), cc AS (
        SELECT node AS doc, min(comp) AS comp FROM reach GROUP BY node
    ), sz AS (
        SELECT comp, count(*) AS cluster_size FROM cc GROUP BY comp
    )
    SELECT cc.doc, cc.comp,
           CAST(cc.doc = cc.comp AS INT) AS is_survivor,
           sz.cluster_size
    FROM cc JOIN sz USING (comp) ORDER BY doc
"""

# cluster-best survivor: identical components, argmax member by
# (length DESC, doc ASC) — mirrored as min over the inverted sort key
ORACLES["dedup_cluster_best"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT d1, d2 FROM ({ORACLES["dedup_minhash_lsh"]}) _mp
    ), edges AS (
        SELECT d1 AS s, d2 AS t FROM pairs
        UNION SELECT d2, d1 FROM pairs
    ), reach(node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.s, r.comp
        FROM reach r JOIN edges e ON e.t = r.node
        WHERE r.comp < e.s
    ), cc AS (
        SELECT node AS doc, min(comp) AS comp FROM reach GROUP BY node
    ), lab AS (
        SELECT cc.doc, cc.comp, length(d.text) AS len
        FROM cc JOIN documents d ON d.doc_id = cc.doc
    ), best AS (
        SELECT comp, doc AS survivor FROM (
            SELECT comp, doc,
                   row_number() OVER (PARTITION BY comp
                                      ORDER BY len DESC, doc) AS rk
            FROM lab
        ) _r WHERE rk = 1
    )
    SELECT lab.doc, lab.comp, best.survivor,
           CAST(lab.doc = best.survivor AS INT) AS keep
    FROM lab JOIN best ON best.comp = lab.comp
    ORDER BY lab.doc
"""


ORACLES["dedup_duplicate_spans"] = r"""
    WITH tok AS (
        SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ), pos AS (
        SELECT doc, t, unnest(range(0, len(t) - 15 + 1)) AS pos
        FROM tok WHERE len(t) >= 15
    ), win AS (
        SELECT doc, pos, md5(array_to_string(t[pos + 1 : pos + 15], ' ')) AS h
        FROM pos
    ), dup AS (
        SELECT doc, pos FROM (
            SELECT doc, pos, count(*) OVER (PARTITION BY h) AS c FROM win
        ) WHERE c > 1
    ), brk AS (
        SELECT doc, pos,
               CASE WHEN pos > coalesce(max(pos + 14) OVER (
                   PARTITION BY doc ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
        FROM dup
    ), isl AS (
        SELECT doc, pos,
               sum(brk) OVER (PARTITION BY doc ORDER BY pos) AS island
        FROM brk
    )
    SELECT doc, min(pos) AS span_start, max(pos) + 14 AS span_end,
           count(*) AS n_windows
    FROM isl GROUP BY doc, island
    ORDER BY doc, span_start
"""


#: the span-scrub CTE chain (WITH-body fragment, ends at `scr`) —
#: shared by the standalone oracle below and the pipeline compositions
#: (queries/pipeline.ORACLES["pipeline_span_scrub_stats"], and the v3
#: capstone which scrubs the exact-dedup SURVIVORS: sql_span_scrub_ctes
#: parametrizes the source relation). Mirrors operators/dedup.span_scrub
#: stage for stage.


def sql_span_scrub_ctes(src: str = "documents") -> str:
    """The span-scrub CTE chain over an arbitrary source relation with
    (doc_id, text) columns."""
    return _SQL_SPAN_SCRUB_TMPL.replace("__SCRUB_SRC__", src)


_SQL_SPAN_SCRUB_TMPL = r"""
    tok AS (
        SELECT doc_id AS doc, string_split_regex(trim(text), '\s+') AS t
        FROM __SCRUB_SRC__
    ), pos AS (
        SELECT doc, t, unnest(range(0, len(t) - 15 + 1)) AS pos
        FROM tok WHERE len(t) >= 15
    ), win AS (
        SELECT doc, pos, md5(array_to_string(t[pos + 1 : pos + 15], ' ')) AS h
        FROM pos
    ), marked AS (
        SELECT doc, pos FROM (
            SELECT doc, pos,
                   row_number() OVER (PARTITION BY h ORDER BY doc, pos) AS rn
            FROM win
        ) WHERE rn > 1
    ), brk AS (
        SELECT doc, pos,
               CASE WHEN pos > coalesce(max(pos + 14) OVER (
                   PARTITION BY doc ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
        FROM marked
    ), isl AS (
        SELECT doc, pos,
               sum(brk) OVER (PARTITION BY doc ORDER BY pos) AS island
        FROM brk
    ), sp AS (
        SELECT doc, min(pos) AS s, max(pos) + 14 AS e
        FROM isl GROUP BY doc, island
    ), removed AS (
        SELECT doc, sum(e - s + 1) AS n_removed FROM sp GROUP BY doc
    ), toki AS (
        SELECT doc, t, unnest(range(0, len(t))) AS i FROM tok
    ), kept AS (
        SELECT y.doc, string_agg(y.t[y.i + 1], ' ' ORDER BY y.i) AS kept_text
        FROM toki y
        WHERE NOT EXISTS (
            SELECT 1 FROM sp
            WHERE sp.doc = y.doc AND y.i BETWEEN sp.s AND sp.e
        )
        GROUP BY y.doc
    ), scr AS (
        SELECT t.doc, CAST(len(t.t) AS BIGINT) AS n_tokens,
               CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
               coalesce(k.kept_text, '') AS kept_text
        FROM tok t
        LEFT JOIN removed r ON r.doc = t.doc
        LEFT JOIN kept k ON k.doc = t.doc
    )
"""

SQL_SPAN_SCRUB_CTES = sql_span_scrub_ctes("documents")

ORACLES["dedup_span_scrub"] = f"""
    WITH {SQL_SPAN_SCRUB_CTES}
    SELECT doc, n_tokens, n_removed, kept_text FROM scr ORDER BY doc
"""
