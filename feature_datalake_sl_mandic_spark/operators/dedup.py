"""Deduplication family over ``documents``: exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

Extension surface (BASELINE.json: "dedup" for LLM data pipelines). Every
variant is expressed as declarative DataFrame ops — shingling via higher-order
array functions, hashing via md5 (identical on both engines, so even MinHash
is oracle-hash-checkable), candidate generation via equi-joins that Catalyst
shuffles on the blocking key.

Scale design (100 TB):
- exact dedup: one shuffle on the content hash, not the content.
- n-gram Jaccard: candidate pairs come from an equi-join on shared shingles
  (inverted-index semantics); the worst-case pair blowup is bounded by a
  document-frequency cap on shingles (``shingles_with_df_cap``) — the join
  shape is unchanged.
- MinHash+LSH: candidates from equality on banded signatures — the classic
  sub-quadratic path. The shingle relation never exists as exploded rows
  (``doc_hash_arrays``): per-doc hash arrays build in-row, the DF cap
  removes a broadcast-bounded hot set via array_except, signatures are
  array_min projections with (a·x+c) mod p per-seed mixing over ONE md5
  per shingle, and verification is in-row size(array_intersect). The only
  corpus-wide shuffles are the distinct-hash hot-set count and the band
  join itself, both carrying 8-byte hashes, never shingle text.
- SimHash: per-doc 32-bit signature via one explode + sum aggregation.
- embedding near-dup: blocked (label) pair join — swap the block key for an
  LSH bucket at scale (see operators/similarity.py ann_lsh_bucketed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from feature_datalake_sl_mandic_spark.functions.hashing import (
    md5_int60_col,
    md5_int60_sql,
)
from feature_datalake_sl_mandic_spark.operators.relational import _t
from feature_datalake_sl_mandic_spark.registry import register

MINHASH_K = 8
LSH_BANDS = 4  # 2 rows per band
MINHASH_MAX_DF = 64  # drop shingles shared by more docs: pair-blowup guard
JACCARD_THRESHOLD = 0.2
# exact rational form of the threshold for integer boundary comparisons
_JACCARD_NUM, _JACCARD_DEN = 1, 5
assert _JACCARD_NUM / _JACCARD_DEN == JACCARD_THRESHOLD
COSINE_NEARDUP_THRESHOLD = 0.35

# ---------------------------------------------------------------- shingles

_DUCK_SHINGLES = """
    SELECT doc_id, unnest(list_distinct(
             list_transform(range(1, greatest(len(ws) - 1, 1)),
                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
"""


def _shingle_set_col(ws_col: str = "ws") -> Column:
    """In-row array of a document's DISTINCT word-trigram shingles, over a
    BOUND token-array column (the quadratic-HOF rule: element_at over an
    attribute is O(1); embedding split(text) in the lambda body would
    re-evaluate it once per element)."""
    ws = F.col(ws_col)
    trigrams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(ws, i), F.element_at(ws, i + 1), F.element_at(ws, i + 2)
        ),
    )
    return F.when(F.size(ws) >= 3, F.array_distinct(trigrams)).otherwise(
        F.array().cast("array<string>")
    )


def _spark_shingles(dc: DataFrame) -> DataFrame:
    """doc_id, s — distinct word-trigram shingles per document.

    The token array binds to a COLUMN before the transform lambda indexes
    it: element_at(split(text), i) would embed the split subtree in the
    lambda body, which Spark re-evaluates once per element (3n splits per
    row — the quadratic HOF pitfall recorded in ARCHITECTURE.md). As an
    attribute read it is O(1)."""
    return dc.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id", F.explode(_shingle_set_col()).alias("s")
    )


def shingles_with_df_cap(dc: DataFrame, max_df: int) -> DataFrame:
    """Shingles with a document-frequency cap: shingles appearing in more
    than ``max_df`` documents are dropped before candidate generation. This
    is the 100 TB guard for the inverted-index join — a boilerplate shingle
    shared by 1M docs would otherwise contribute 10^12 candidate pairs on
    its own. Near-dup semantics survive because ultra-common shingles carry
    no discriminating signal. One extra partial-aggregated shuffle (shingle
    df counts) + an anti-join against the HOT set only.

    The filter is expressed as LEFT ANTI against shingles with df > max_df
    — NOT left-semi against the df <= max_df survivors, although the two
    are equivalent (every shingle has df >= 1, so not-hot == keep). The
    survivor relation is CORPUS-SCALE, and Catalyst's size estimate for an
    aggregate is unreliable enough that it chose to BROADCAST it: fine at
    the fixture, an 8g-driver OOM on the 100x heavy probe (r10), fatal at
    100 TB. The hot side is the one that stays small (boilerplate
    shingles; |hot| <= total occurrences / max_df, and with the cap scaled
    as a fraction of n_docs — the production setting — bounded independent
    of corpus size), so IT is the side a broadcast may legitimately pick
    up. Same inversion doc_hash_arrays uses for the MinHash path."""
    sh = _spark_shingles(dc)
    hot = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("s")
    )
    return sh.join(hot, "s", "left_anti")


def capped_shingle_arrays(dc: DataFrame, max_df: int) -> DataFrame:
    """(doc_id, n, ss): each document's DF-capped distinct shingle set as ONE
    in-row array plus its size — the string-shingle analog of
    ``doc_hash_arrays`` (round 11). Semantically identical to grouping
    ``shingles_with_df_cap`` per doc: the hot set (shingles with df >
    max_df) is removed by in-row ``array_except`` against one broadcast
    collect_set row instead of an anti-join of the exploded relation, and
    the per-doc capped size is a projection instead of a groupBy.

    Scale argument (same as doc_hash_arrays): |hot| <= total shingle
    occurrences / max_df — with the cap scaled as a fraction of n_docs,
    bounded independent of corpus size — so the broadcast side is bounded
    by construction; the corpus-scale array relation is pinned ONCE and
    both the hot count and the capped projection read that
    materialization."""
    base = (
        dc.select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", _shingle_set_col().alias("ss_all"))
        .localCheckpoint()
    )
    hot = (
        base.select(F.explode("ss_all").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .agg(F.collect_set("s").alias("hot"))
    )
    return (
        base.crossJoin(F.broadcast(hot))
        .select("doc_id", F.array_except("ss_all", "hot").alias("ss"))
        .where(F.size("ss") > 0)
        .select("doc_id", F.size("ss").cast("bigint").alias("n"), "ss")
    )


def _grouped_pair_counts(capped: DataFrame) -> DataFrame:
    """(doc_a, n_a, doc_b, n_b, n_inter) from a per-doc capped shingle-array
    relation — the shuffle-lean replacement for the exploded self-join
    (round 11, guide §2.3/§2.4).

    The join form shuffled the exploded (doc_id, shingle-string) relation
    TWICE (both sort-merge self-join sides) plus twice more for the sizes
    joins; here the shingle strings cross the wire exactly ONCE, into a
    partial-aggregated ``collect_list`` inverted index whose per-shingle
    posting list is bounded by the DF cap (<= max_df entries — the hot set
    is already gone, so no group can blow up), and candidate pairs are
    emitted IN-ROW from each posting list. Per-doc capped sizes ride along
    in the posting-list structs, so the sizes joins disappear outright.

    Equivalence to the self-join: a pair (a, b), a < b, shares k shingles
    iff exactly k posting lists contain both docs; each such list emits the
    ordered pair once (posting lists hold distinct docs because per-doc
    shingle sets are distinct), so count-per-pair == n_inter."""
    inv = (
        capped.select("doc_id", "n", F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.collect_list(F.struct("doc_id", "n")).alias("mem"))
        .where(F.size("mem") >= 2)
        .select(F.array_sort("mem").alias("mem"))
    )
    # Pairs (i < j) from the doc_id-sorted posting list. `mem` is bound to a
    # column attribute so the slice inside the lambda reads it O(1) (the
    # quadratic-HOF rule); the per-element slice copy is O(pairs emitted),
    # bounded by max_df^2 per shingle.
    mem = F.col("mem")
    pair_structs = F.flatten(
        F.transform(
            mem,
            lambda x, i: F.transform(
                F.slice(mem, i + F.lit(2), F.size(mem)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        inv.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.a.n").alias("n_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.b.n").alias("n_b"),
        )
        .groupBy("doc_a", "n_a", "doc_b", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def doc_hash_array_col(ws_col: str = "ws") -> Column:
    """In-row array of a document's distinct 60-bit trigram-shingle hashes,
    over a BOUND token-array column (the quadratic-HOF rule: binding the
    split to a column first keeps element_at O(1) inside the lambdas).
    Hash-identical to exploding ``_spark_shingles`` and mapping
    ``md5_int60_col`` per row."""
    ws = F.col(ws_col)
    trigrams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(ws, i), F.element_at(ws, i + 1), F.element_at(ws, i + 2)
        ),
    )
    return F.when(
        F.size(ws) >= 3,
        F.transform(F.array_distinct(trigrams), lambda s: md5_int60_col(s)),
    ).otherwise(F.array().cast("array<bigint>"))


def doc_hash_arrays(dc: DataFrame, max_df: int) -> DataFrame:
    """(doc_id, hs): each document's distinct 60-bit shingle hashes as ONE
    in-row array, after the corpus-wide DF cap — the shape that lets the
    whole MinHash pipeline run without ever shuffling an exploded
    (doc, shingle) relation. Three steps:

    1. Build every doc's hashed trigram array in-row (transform + md5; the
       token array is bound to a column first — the quadratic-HOF rule) and
       pin it: ONE scan + ONE hashing pass for everything downstream.
    2. The DF cap needs cross-doc shingle frequencies, the only inherently
       relational step — but only shingles ABOVE the cap matter, and that
       hot set is small: with the cap expressed as a fraction f of n_docs
       (64 here ≈ 1.3% of the fixture's docs — scale it with the corpus),
       |hot| <= avg_shingles_per_doc / f independent of corpus size
       (sum of hot dfs <= total occurrences), i.e. a few thousand 8-byte
       ints. So: explode the already-hashed arrays, partial-aggregated
       count per hash (map-side combine shrinks the shuffle to distinct
       hashes), keep df > cap, collect_set into one broadcast row.
    3. array_except(hs_all, hot) removes boilerplate shingles in-row.

    Replaces the former count-over-window hashed-shingle form (removed in
    round 6 — its last consumer, the band-tuning harness, now explodes
    these arrays when it genuinely needs the inverted index): the window
    shuffled every (doc, h) occurrence; this shuffles only distinct-hash
    counts. Note array_except also dedups the (cosmologically
    unlikely, ~1e-14/doc) within-doc 60-bit hash collision that the
    exploded form would keep as two rows — the oracle sweep gates both."""
    base_all = (
        dc.select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", doc_hash_array_col().alias("hs_all"))
        .localCheckpoint()
    )
    hot = (
        base_all.select(F.explode("hs_all").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .agg(F.collect_set("h").alias("hot"))
    )
    return (
        base_all.crossJoin(F.broadcast(hot))
        .select("doc_id", F.array_except("hs_all", "hot").alias("hs"))
        .where(F.size("hs") > 0)
    )


# MinHash signature rows: ONE md5 per shingle, then k independent universal
# hashes m_j = (a_j * h + c_j) mod P over the 31-bit reduction of the md5 —
# the textbook (a*x+c) mod p family. Cuts per-shingle hashing cost 8x vs
# md5-per-seed; products stay < 2^62, exact in BIGINT on both engines.
MINHASH_PRIME = 2147483647  # 2^31 - 1


def _mix_params(j: int) -> tuple[int, int]:
    a = (1103515245 * (2 * j + 1) + 12345) % MINHASH_PRIME
    c = (69069 * (j + 1) + 54321) % MINHASH_PRIME
    return (a or 1, c)


def _minhash_col(seed: int, col: str = "h") -> Column:
    return _minhash_expr(seed, F.col(col))


def _minhash_expr(seed: int, h: Column) -> Column:
    """The universal-hash expression over an arbitrary input column — usable
    on a lambda variable inside a higher-order function as well as on an
    attribute."""
    a, c = _mix_params(seed)
    return (F.lit(a) * (h % MINHASH_PRIME) + F.lit(c)) % MINHASH_PRIME


def _minhash_lambda(j: int):
    """Closure factory for HOF use, NOT ``lambda h, j=j``: PySpark reads the
    lambda's arity, and a second parameter turns it into an
    (element, index) lambda with the index bound where the seed should be."""
    return lambda h: _minhash_expr(j, h)


def inrow_signature_cols(hs: str = "hs") -> list[Column]:
    """The k minhashes + set size as pure projections over an in-row
    shingle-hash array column — the shuffle-free signature form shared by
    the batch operator and the streaming index job."""
    return [
        *[
            F.array_min(F.transform(hs, _minhash_lambda(j))).alias(f"m{j}")
            for j in range(MINHASH_K)
        ],
        F.size(hs).cast("bigint").alias("n"),
    ]


def _duck_minhash(seed: int) -> str:
    a, c = _mix_params(seed)
    return f"min(({a} * (h % {MINHASH_PRIME}) + {c}) % {MINHASH_PRIME})"


# ---------------------------------------------------------------- operators


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           CASE WHEN row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
                THEN 1 ELSE 0 END AS is_dup,
           count(*) OVER (PARTITION BY md5(text)) AS group_size
    FROM documents
    ORDER BY doc_id
    """,
    tags=("dedup", "exact-dedup", "window"),
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on md5(text) (shuffle carries the 16-byte hash, not
    the document), keep the lowest doc_id as canonical — the keep-decision
    form of ``dropDuplicates`` with full provenance."""
    (dc,) = _t(spark, sf_dir, "documents")
    h = F.md5("text")
    wp = Window.partitionBy(h)
    return dc.select(
        "doc_id",
        F.min("doc_id").over(wp).alias("canonical_id"),
        (F.row_number().over(wp.orderBy("doc_id")) > 1).cast("int").alias("is_dup"),
        F.count(F.lit(1)).over(wp).alias("group_size"),
    ).orderBy("doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "near-dedup", "ngram-jaccard", "self-join"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-trigram Jaccard: inverted-index equi-join
    on shared shingles generates candidates, |A∩B|/|A∪B| filters them.

    Uncapped shingles: the ORACLE-defined exact semantics. The 100 TB form
    is ``dedup_ngram_jaccard_capped`` below — same pipeline over
    ``shingles_with_df_cap``, which bounds any one shingle's candidate
    contribution (a boilerplate trigram shared by 1M docs contributes 10^12
    pairs here)."""
    (dc,) = _t(spark, sf_dir, "documents")
    dc.createOrReplaceTempView("documents")
    return _jaccard_pairs(_spark_shingles(dc).localCheckpoint())


def _jaccard_pairs(sh: DataFrame) -> DataFrame:
    """Jaccard >= threshold pairs from a pinned (doc_id, s) shingle relation:
    inverted-index equi-join candidates + exact |A∩B|/|A∪B| filter. Shared
    by the uncapped (oracle-exact) and DF-capped (100 TB) registrations.

    Every join side here GROWS WITH THE CORPUS — the shingle relation, and
    the per-doc size relation — so all three joins are pinned sort-merge
    (``hint("merge")``, spill-safe at any scale). Without the pin, Catalyst
    read the pinned relation's statistics as broadcastable and BROADCAST
    the fact-scale shingle side: fine at sf0.1, an 8g-driver OOM on the
    100x heavy probe (round 10), fatal at 100 TB. The legitimate broadcast
    in this pipeline is the bounded HOT-shingle set inside
    shingles_with_df_cap, never a corpus-scale relation."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b.hint("merge"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter") / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
    return (
        inter.join(sa.hint("merge"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb.hint("merge"), F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# DF cap for the CAPPED ngram near-dup registrations: the same guard value
# the MinHash/LSH path applies before its candidate join. On web-scale
# corpora the cap is what bounds the inverted-index join — candidate pairs
# per shingle are at most max_df^2 regardless of corpus size — while
# near-dup semantics survive because ultra-common shingles carry no
# discriminating signal.
NGRAM_MAX_DF = MINHASH_MAX_DF

_DUCK_SHINGLES_CAPPED = f"""
    SELECT doc_id, s FROM ({_DUCK_SHINGLES}) sh0
    WHERE s IN (SELECT s FROM ({_DUCK_SHINGLES}) g
                GROUP BY s HAVING count(*) <= {NGRAM_MAX_DF})
"""


@register(
    "dedup_ngram_jaccard_capped",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES_CAPPED}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "near-dedup", "ngram-jaccard", "df-cap", "self-join"),
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``dedup_ngram_jaccard`` (round-8 verdict ask #2):
    identical pair pipeline, but candidates come from
    ``shingles_with_df_cap`` so no single shingle can contribute more than
    ~NGRAM_MAX_DF^2 candidate pairs however large the corpus — the guard the
    module already applied on its MinHash path, now carried by a registered,
    oracle-verified exact-ngram plan. Jaccard is computed over the CAPPED
    shingle sets on both engines (the cap is part of the semantics, mirrored
    in the oracle as a HAVING count(*) <= max_df sub-select).

    Round 11: candidates come from the in-row grouped pipeline
    (``capped_shingle_arrays`` + ``_grouped_pair_counts``) instead of the
    exploded sort-merge self-join — shingle strings cross the shuffle once,
    the sizes joins are gone, and the bounded posting lists make the pair
    blowup in-row and cap-bounded. Output is identical (pytest pins grouped
    == join-form; the oracle SQL is unchanged)."""
    (dc,) = _t(spark, sf_dir, "documents")
    dc.createOrReplaceTempView("documents")
    pc = _grouped_pair_counts(capped_shingle_arrays(dc, NGRAM_MAX_DF))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        pc.where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def _duck_minhash_lsh_sql(batch_min: int | None = None) -> str:
    batch_pred = f"AND b.doc_id >= {batch_min}" if batch_min is not None else ""
    mins = ",\n           ".join(
        f"{_duck_minhash(j)} AS m{j}" for j in range(MINHASH_K)
    )
    bands = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, m{2*b} || '_' || m{2*b+1} AS sig FROM sig_t"
        for b in range(LSH_BANDS)
    )
    sig_eq = " + ".join(
        f"(sa.m{j} = sb.m{j})::INT" for j in range(MINHASH_K)
    )
    return f"""
    WITH shs AS ({_DUCK_SHINGLES}),
    sh0 AS (SELECT doc_id, {md5_int60_sql("s")} AS h FROM shs),
    sh AS (
      SELECT doc_id, h FROM sh0
      WHERE h IN (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= {MINHASH_MAX_DF})
    ),
    sig_t AS (
      SELECT doc_id,
           {mins}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
{bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
           {batch_pred}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.h = x.h
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(({sig_eq.replace('sa.', 'siga.').replace('sb.', 'sigb.')}) / {MINHASH_K}.0, 6)
             AS minhash_sim,
           round(coalesce(i.n_inter, 0) * 1.0
                 / (sa.n + sb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    JOIN sig_t siga ON c.doc_a = siga.doc_id
    JOIN sig_t sigb ON c.doc_b = sigb.doc_id
    WHERE coalesce(i.n_inter, 0) * 1.0 / (sa.n + sb.n - coalesce(i.n_inter, 0))
          >= {JACCARD_THRESHOLD}
    ORDER BY c.doc_a, c.doc_b
    """


@register(
    "dedup_minhash_lsh",
    oracle=_duck_minhash_lsh_sql(),
    tags=("dedup", "near-dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    batch_min: int | None = None,
    max_df: int = MINHASH_MAX_DF,
) -> DataFrame:
    """MinHash(k=8) + LSH(4 bands × 2 rows) near-dup: sub-quadratic candidate
    generation by equality on banded signatures, then exact-Jaccard verify.

    The hash family is md5-derived and identical in the oracle, so the full
    pipeline — signatures, banding, candidates, verification — hash-matches
    DuckDB exactly rather than being spot-checked.

    ``batch_min`` restricts the RIGHT side of the band join to doc_id >=
    batch_min: with a.doc_id < b.doc_id this keeps index x batch and
    batch x batch collisions while excluding index x index entirely — the
    incremental-maintenance form (see ``dedup_incremental_minhash``)."""
    (dc,) = _t(spark, sf_dir, "documents")
    dc.createOrReplaceTempView("documents")
    # Per-doc hashed-shingle ARRAYS (round 6, in-row fold family): the
    # DF-capped shingle set never exists as exploded rows here — see
    # ``doc_hash_arrays``. The only corpus-wide shuffle left upstream of
    # banding is the distinct-hash hot-set count; signatures and the verify
    # arrays below both derive in-row from this one relation, which is why
    # it is pinned (three consumer branches: sig/bands, and the two verify
    # join sides).
    base = doc_hash_arrays(dc, max_df).localCheckpoint(eager=False)

    # Signatures + set size as a pure PROJECTION: array_min over the k
    # universal hashes of the in-row array replaces the former
    # groupBy(doc_id).agg(min...) — the heaviest shuffle of the old plan
    # (every (doc, h) occurrence moved) is gone outright.
    sig = base.select("doc_id", *inrow_signature_cols("hs"))
    # Banding via explode of a literal struct array: ONE pass over sig.
    # The full signature + set size ride through the band join: ~80 extra
    # bytes per band row buys the elimination of BOTH per-side sig joins
    # afterwards (2 joins = 4 exchanges of the pair relation + sig) — the
    # classic carry-vs-rejoin trade, and at k=8 carrying wins.
    bands = sig.select(
        "doc_id",
        *[F.col(f"m{j}") for j in range(MINHASH_K)],
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws("_", f"m{2*b}", f"m{2*b+1}").alias("sig"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bs"),
    ).select(
        "doc_id",
        *[F.col(f"m{j}") for j in range(MINHASH_K)],
        "n",
        F.col("bs.band").alias("band"),
        F.col("bs.sig").alias("sig"),
    ).localCheckpoint(eager=False)
    # ^ the band join below is a SELF-join: without the pin each side
    # re-projects the k in-row minhashes over the whole corpus (cheap but
    # not free — k·|shingles| universal hashes per side); pinned, both
    # sides read one materialization.
    ba, bb = bands.alias("a"), bands.alias("b")
    # A pair colliding in multiple bands appears once per band; rows are
    # identical in every carried column, so dropDuplicates on the pair key is
    # deterministic in content (one shuffle — same price the old .distinct()
    # paid, but now it also dedups the carried signatures).
    band_cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if batch_min is not None:
        band_cond = band_cond & (F.col("b.doc_id") >= batch_min)
    cand = (
        ba.join(bb, band_cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.m{j}").alias(f"am{j}") for j in range(MINHASH_K)],
            F.col("a.n").alias("n_a"),
            *[F.col(f"b.m{j}").alias(f"bm{j}") for j in range(MINHASH_K)],
            F.col("b.n").alias("n_b"),
        )
        # Size-bound prefilter BEFORE the exact-Jaccard verify: |A∩B| <=
        # min(|A|,|B|) and |A∪B| >= max(|A|,|B|), so jaccard <= min/max —
        # a pair whose already-computed set sizes violate min/max >=
        # threshold cannot survive the final filter and skips the shingle
        # intersection join entirely. Integer cross-multiplication
        # (min*DEN >= max*NUM) keeps the boundary exact: with t = 1/5 a
        # (1, 5)-sized containment pair sits AT the threshold and must be
        # kept, which float '1 >= 0.2*5' can get wrong by an ulp.
        .where(
            F.least("n_a", "n_b") * _JACCARD_DEN
            >= F.greatest("n_a", "n_b") * _JACCARD_NUM
        )
        .dropDuplicates(["doc_a", "doc_b"])
        # Candidate pairs (band-collision-bounded) feed the intersection
        # join AND the final verify join — materialize once.
        .localCheckpoint()
    )

    # Verify via in-row array intersection (round 6): the per-doc hash
    # arrays already EXIST (the same pinned relation the signatures were
    # projected from — no collect_list groupBy, no semi prune needed), so
    # the bounded pair relation just joins against two projections of it
    # and takes size(array_intersect) in the row. cand is checkpointed and
    # band-collision-bounded, so AQE broadcasts it and neither join moves
    # the corpus side. Set (not multiset) intersection is exact because
    # shingle strings are array_distinct'd per doc before hashing; a
    # within-doc 60-bit hash collision (~1e-14/doc) would also break the
    # carried set-size n, and the oracle sweep gates both.
    aa = base.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    ab = base.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))

    sig_matches = sum(
        (F.col(f"am{j}") == F.col(f"bm{j}")).cast("int") for j in range(MINHASH_K)
    )
    n_inter = F.size(F.array_intersect("ha", "hb")).cast("bigint")
    jac = n_inter / (F.col("n_a") + F.col("n_b") - n_inter)
    return (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(sig_matches / float(MINHASH_K), 6).alias("minhash_sim"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _duck_simhash_sql() -> str:
    sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(32)
    )
    assemble = " + ".join(f"((s{i} > 0)::BIGINT << {i})" for i in range(32))
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM toks
    ),
    bitsums AS (
      SELECT doc_id,
           {sums}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {assemble} AS simhash,
           bit_count({assemble})::BIGINT AS popcount
    FROM bitsums
    ORDER BY doc_id
    """


@register(
    "dedup_simhash",
    oracle=_duck_simhash_sql(),
    tags=("dedup", "near-dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted 32-bit SimHash per document (md5-derived token
    hashes), computed entirely in the row (round-6 fold): one projection
    hashes each token once, then a higher-order ``F.aggregate`` folds the
    per-bit +1/-1 sums into a 32-slot array accumulator via ``zip_with``
    — no explode, no groupBy, no shuffle; the plan is scan -> project ->
    output sort. The previous explode + 32-sum groupBy(doc_id) kept its
    shuffle small via map-side combine, but still paid a full exchange
    stage plus materializing one row per corpus token; per-row cost here
    is 32 integer ops per token (sf0.1 min-of-5 1.14s -> 0.34s)."""
    (dc,) = _t(spark, sf_dir, "documents")
    dc.createOrReplaceTempView("documents")
    pw = F.array(*[F.lit(1 << i).cast("bigint") for i in range(32)])
    hs = F.transform(
        F.split("text", " "),
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint"),
    )
    bitsums = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("bigint"), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                pw,
                lambda p: F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
    )
    # signature = sum of 2^i over bits whose weighted sum is positive
    simhash = F.aggregate(
        F.zip_with(
            F.col("bs"),
            pw,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        dc.select("doc_id", bitsums.alias("bs"))
        .select(
            "doc_id",
            simhash.alias("simhash"),
        )
        .select(
            "doc_id",
            "simhash",
            F.bit_count("simhash").cast("bigint").alias("popcount"),
        )
        .orderBy("doc_id")
    )


_DUCK_COS = (
    "list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))"
)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH nz AS (
      SELECT * FROM embeddings
      WHERE isfinite(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
            AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round({_DUCK_COS}, 6) AS cosine
    FROM nz a
    JOIN nz b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DUCK_COS} >= {COSINE_NEARDUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    tags=("dedup", "near-dedup", "embedding-cosine", "blocked-join"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via blocked pair join (block key = label; at scale,
    an LSH bucket — see ann_lsh_bucketed): cosine in pure JVM higher-order
    functions over double-cast arrays, no UDF.

    Scale boundary (measured by scale_probe.py, SCALE_ALLOW entry): the
    oracle DEFINES the candidate set as all pairs per label, and label
    cardinality is fixed — so corpus growth makes the defined pair set
    quadratic in per-label occupancy, for any engine. This query is the
    exact, oracle-checkable form; the corpus-scale candidate generators are
    ann_lsh_bucketed, dedup_minhash_lsh, and semdedup with corpus-scaled k,
    whose blocking-key counts grow with the data.

    Round 11: the per-pair cosine runs through ``pair_cosine_filtered``
    (see ``semdedup_cluster_cosine``) — bit-identical output, the
    interpreted per-pair HOF fold replaced by batch-vectorized numpy.
    Measured 1.00 -> 0.93 s noop-min at sf0.1 (pair count is small
    here; the win scales with per-label occupancy)."""
    from feature_datalake_sl_mandic_spark.operators.similarity import (
        _dot as dot,
        _finite_pred,
        pair_cosine_filtered,
    )

    (em,) = _t(spark, sf_dir, "embeddings")

    # norm precomputed once per vector (not once per PAIR): 3x less HOF work
    # in the pair join; identical arithmetic, so oracle parity is unchanged.
    # zero-norm vectors have no direction (round-6 audit) and non-finite
    # vectors are corrupt input that would rank FIRST under Spark's NaN
    # ordering (round-7 NaN/Inf lake probe) — both excluded on BOTH engines
    emd = (
        em.withColumn("emb", F.col("embedding").cast("array<double>"))
        .withColumn("ssq", dot("emb", "emb"))
        .where(_finite_pred(F.col("ssq")) & (F.col("ssq") > 0))
        .withColumn("norm", F.sqrt("ssq"))
    )
    a = emd.alias("a")
    b = emd.alias("b")

    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.label").alias("label"),
        F.col("a.emb").alias("ea"),
        F.col("b.emb").alias("eb"),
        (F.col("a.norm") * F.col("b.norm")).alias("nn"),
    )
    return (
        pair_cosine_filtered(pairs, COSINE_NEARDUP_THRESHOLD)
        .select("vec_a", "vec_b", "label", F.round("cos_raw", 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


@register(
    "dedup_levenshtein_blocked",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars // 32 AS len_bucket,
             substr(text, 1, 60) AS head
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist,
           round(1.0 - levenshtein(a.head, b.head)
                 / greatest(len(a.head), len(b.head), 1), 6) AS similarity
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
         AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 20
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "near-dedup", "levenshtein", "blocked-join"),
)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup with blocking: candidate pairs come from an
    equi-join on (lang, length-bucket) — never a cross join — and the O(m*n)
    levenshtein only runs on 60-char prefixes of those candidates. Blocking
    keys shuffle-partition the pair generation, so the quadratic term is per
    bucket, not per corpus; the distance itself is the built-in JVM
    ``levenshtein`` (no Python).

    Scale boundary (scale_probe.py SCALE_ALLOW): (lang, len_bucket) has
    fixed cardinality, so the DEFINED candidate set grows quadratically in
    block occupancy as the corpus grows — a semantics property shared by
    any engine running this oracle. Content-derived blocking (PassJoin-style
    prefix segments, or the registered dedup_minhash_lsh /
    dedup_ngram_jaccard candidates) is the corpus-scale form: its key count
    grows with the data, keeping occupancy bounded."""
    (dc,) = _t(spark, sf_dir, "documents")
    d = dc.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 32).cast("bigint").alias("len_bucket"),
        F.substring("text", 1, 60).alias("head"),
    )
    a, b = d.alias("a"), d.alias("b")
    lev = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(lev <= 20)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.cast("bigint").alias("edit_dist"),
            F.round(
                1.0
                - lev
                / F.greatest(
                    F.length("a.head"), F.length("b.head"), F.lit(1)
                ),
                6,
            ).alias("similarity"),
        )
        .orderBy("doc_a", "doc_b")
    )


CC_MAX_ITERS = 15


@register(
    "dedup_cluster_components",
    oracle="""
    WITH RECURSIVE h AS (
      SELECT doc_id, md5(substr(text, 1, 80)) AS h1,
             md5(substr(reverse(text), 1, 80)) AS h2
      FROM documents
    ),
    e1 AS (SELECT a.doc_id AS u, b.doc_id AS v
           FROM h a JOIN h b ON a.h1 = b.h1 AND a.doc_id < b.doc_id),
    e2 AS (SELECT a.doc_id AS u, b.doc_id AS v
           FROM h a JOIN h b ON a.h2 = b.h2 AND a.doc_id < b.doc_id),
    edges AS (SELECT u, v FROM e1 UNION SELECT u, v FROM e2),
    und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.v FROM reach r JOIN und e ON e.u = r.node
    ),
    lab AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT)
             AS is_canonical
    FROM lab
    ORDER BY doc_id
    """,
    tags=("dedup", "connected-components", "iterative", "graph"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: connected components over a union of
    pairwise-dup edge relations (here: shared 80-char prefix hash, shared
    80-char suffix hash — A~B by prefix and B~C by suffix chain into one
    cluster, which no single blocking key finds).

    Implemented as iterative min-label propagation — the standard distributed
    CC algorithm (GraphX/Pregel shape): each round is one equi-join + one
    min-aggregate, labels converge in <= diameter rounds. The driver only
    checks a 1-row convergence flag per round; labels stay distributed, and
    ``localCheckpoint`` truncates the growing lineage each iteration (on a
    cluster: ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()``).
    The oracle replays the same fixpoint as a recursive CTE."""
    (dc,) = _t(spark, sf_dir, "documents")
    h = dc.select(
        "doc_id",
        F.md5(F.substring("text", 1, 80)).alias("h1"),
        F.md5(F.substring(F.reverse("text"), 1, 80)).alias("h2"),
    )

    def pairs(key: str) -> DataFrame:
        a, b = h.alias("a"), h.alias("b")
        return a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))

    edges = pairs("h1").unionByName(pairs("h2")).distinct()
    und = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()

    labels = dc.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
    ).localCheckpoint()
    for _ in range(CC_MAX_ITERS):
        prop = und.join(labels, und.u == F.col("node")).select(
            F.col("v").alias("node"), "label"
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ITERS} rounds "
            "(graph diameter exceeds the iteration cap; raise CC_MAX_ITERS)"
        )

    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_canonical",
            (F.col("doc_id") == F.col("cluster_id")).cast("bigint"),
        )
        .orderBy("doc_id")
    )


SPAN_NGRAM = 8  # span length in tokens (the Lee et al. substring unit)


@register(
    "dedup_duplicate_ngram_spans",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             unnest(list_transform(
               range(1, greatest(len(ws) - {SPAN_NGRAM - 2}, 1)),
               i -> {" || ' ' || ".join(f"ws[i+{j}]" for j in range(SPAN_NGRAM))}))
             AS s
      FROM ws
    ),
    dg AS (
      SELECT doc_id, any_value(lang) AS lang, md5(s) AS h, count(*) AS occ
      FROM grams GROUP BY doc_id, md5(s)
    ),
    dfr AS (SELECT h, count(*) AS ndocs FROM dg GROUP BY h)
    SELECT dg.doc_id, dg.lang,
           sum(dg.occ)::BIGINT AS n_ngrams,
           sum(CASE WHEN dfr.ndocs >= 2 THEN dg.occ ELSE 0 END)::BIGINT
             AS n_dup_ngrams,
           round(sum(CASE WHEN dfr.ndocs >= 2 THEN dg.occ ELSE 0 END)
                 / sum(dg.occ), 6) AS dup_frac
    FROM dg JOIN dfr USING (h)
    GROUP BY dg.doc_id, dg.lang
    ORDER BY dg.doc_id
    """,
    tags=("dedup", "near-dedup", "ngram-spans", "text"),
)
def dedup_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span measurement (the relational
    approximation of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", which uses suffix arrays): for every document,
    the fraction of its 8-token spans that also occur in at least one OTHER
    document. Docs with high ``dup_frac`` are boilerplate-heavy or partial
    copies that exact-hash dedup misses; the per-doc fraction is the usual
    drop/trim signal.

    Scale shape: spans are md5-hashed immediately, so only 16-byte hashes
    shuffle, never text. Per-(doc, span) occurrence counts collapse map-side
    before the span-frequency aggregation, and the frequency join is the
    inverted-index equi-join shape — work scales with distinct (doc, span)
    pairs, no all-pairs comparison. Docs shorter than the span length drop
    out (zero spans), which the span-count output makes explicit."""
    (dc,) = _t(spark, sf_dir, "documents")
    # Bind the token array to a COLUMN before indexing it inside the
    # transform lambda: element_at(split(text), i) embeds the split
    # subtree in the lambda body, and Spark re-evaluates embedded
    # non-lambda subtrees once per element (SPAN_NGRAM * n splits per
    # row). With ws an attribute, element_at is an O(1) read
    # (sf0.1 min-of-5 2.82s -> 1.34s).
    ws = F.col("ws")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (SPAN_NGRAM - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j) for j in range(SPAN_NGRAM)]
        ),
    )
    g = (
        dc.select("doc_id", "lang", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.when(F.size(ws) >= SPAN_NGRAM, grams).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("s"),
        )
        .select("doc_id", "lang", F.md5("s").alias("h"))
    )
    dg = (
        g.groupBy("doc_id", "h")
        .agg(F.first("lang").alias("lang"), F.count(F.lit(1)).alias("occ"))
        .localCheckpoint(eager=False)
        # ^ feeds the span document-frequency AND the frequency join —
        # pinned so the n-gram explosion runs once, not per branch
    )
    dfr = dg.groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
    dup_occ = F.sum(F.when(F.col("ndocs") >= 2, F.col("occ")).otherwise(0))
    # BOTH sides of the frequency join grow with the corpus (dg = distinct
    # (doc, span-hash) pairs, dfr = distinct span hashes), so the join is
    # pinned sort-merge like the shingle joins in _jaccard_pairs /
    # _containment_pairs. Without the pin, Catalyst reads the pinned dg
    # relation's statistics as broadcastable and broadcasts a corpus-scale
    # side: fine at sf0.1, an 8g-driver OOM on the 100x broadcast probe
    # (round 11), fatal at 100 TB. The user hint survives AQE re-planning,
    # so the join stays sort-merge at runtime too.
    return (
        dg.join(dfr.hint("merge"), "h")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("occ").alias("n_ngrams"),
            dup_occ.alias("n_dup_ngrams"),
            F.round(dup_occ / F.sum("occ"), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


CONTAINMENT_THRESHOLD = 0.8


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter,
           round(n_inter * 1.0 / sa.n, 6) AS containment_a,
           round(n_inter * 1.0 / sb.n, 6) AS containment_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE greatest(n_inter * 1.0 / sa.n, n_inter * 1.0 / sb.n)
          >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "near-dedup", "containment", "self-join"),
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: |A∩B| / |A| (Broder's containment
    coefficient) instead of Jaccard — catches a short document EMBEDDED in a
    longer one (quote farms, wrapper pages, chunk-level copies), which
    Jaccard dilutes below threshold because the union is dominated by the
    long side. Pairs where either direction's containment >= 0.8 are
    flagged; both directions are emitted so the caller knows which doc is
    the fragment. Same inverted-index candidate join as
    ``dedup_ngram_jaccard`` — candidates only from shared shingles.

    Uncapped shingles (the oracle-exact semantics); the 100 TB form is
    ``dedup_ngram_containment_capped`` below."""
    (dc,) = _t(spark, sf_dir, "documents")
    dc.createOrReplaceTempView("documents")
    return _containment_pairs(_spark_shingles(dc).localCheckpoint())


def _containment_pairs(sh: DataFrame) -> DataFrame:
    """Containment >= threshold pairs from a pinned (doc_id, s) shingle
    relation; shared by the uncapped and DF-capped registrations. All join
    sides grow with the corpus, so every join is pinned sort-merge — see
    _jaccard_pairs for the round-10 broadcast-OOM lesson."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b.hint("merge"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    ca = F.col("n_inter") / F.col("n_a")
    cb = F.col("n_inter") / F.col("n_b")
    return (
        inter.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .where(F.greatest(ca, cb) >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(ca, 6).alias("containment_a"),
            F.round(cb, 6).alias("containment_b"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_ngram_containment_capped",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES_CAPPED}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter,
           round(n_inter * 1.0 / sa.n, 6) AS containment_a,
           round(n_inter * 1.0 / sb.n, 6) AS containment_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE greatest(n_inter * 1.0 / sa.n, n_inter * 1.0 / sb.n)
          >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "near-dedup", "containment", "df-cap", "self-join"),
)
def dedup_ngram_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``dedup_ngram_containment`` (round-8 verdict ask
    #2): the same asymmetric-containment pipeline over
    ``shingles_with_df_cap``, bounding every shingle's candidate fan-out at
    NGRAM_MAX_DF regardless of corpus size. Containment denominators are the
    CAPPED per-doc shingle counts on both engines (the cap is part of the
    semantics, mirrored in the oracle).

    Round 11: same grouped inverted-index pipeline as
    ``dedup_ngram_jaccard_capped`` (see there) — one string shuffle, no
    sizes joins, cap-bounded in-row pair emission."""
    (dc,) = _t(spark, sf_dir, "documents")
    dc.createOrReplaceTempView("documents")
    pc = _grouped_pair_counts(capped_shingle_arrays(dc, NGRAM_MAX_DF))
    ca = F.col("n_inter") / F.col("n_a")
    cb = F.col("n_inter") / F.col("n_b")
    return (
        pc.where(F.greatest(ca, cb) >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(ca, 6).alias("containment_a"),
            F.round(cb, 6).alias("containment_b"),
        )
        .orderBy("doc_a", "doc_b")
    )


INCR_BATCH_START = 400  # docs with doc_id >= this are the "newly arrived" batch


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH hist AS (
      SELECT DISTINCT md5(text) AS h FROM documents
      WHERE doc_id < {INCR_BATCH_START}
    ),
    batch AS (
      SELECT doc_id, lang, source, md5(text) AS h FROM documents
      WHERE doc_id >= {INCR_BATCH_START}
    ),
    flagged AS (
      SELECT b.doc_id, b.lang, b.source,
             (hist.h IS NOT NULL) AS dup_of_history
      FROM batch b LEFT JOIN hist ON b.h = hist.h
    )
    SELECT lang, source,
           count(*) AS n_batch,
           sum(CASE WHEN dup_of_history THEN 1 ELSE 0 END)::BIGINT
             AS n_dup_of_history,
           sum(CASE WHEN dup_of_history THEN 0 ELSE 1 END)::BIGINT AS n_new
    FROM flagged
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    tags=("dedup", "incremental", "exact-dedup", "ingest"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a newly-arrived batch against the historical
    corpus: only the BATCH is hashed and joined against the history's
    content-hash index (here: docs below/above a doc_id split stand in for
    the stored corpus vs today's crawl). This is how dedup actually runs in
    a daily pipeline — the full-corpus pass (``dedup_exact_documents``)
    bootstraps the index once; every increment after that joins
    |batch| << |corpus| rows against it.

    Scale shape: the history side projects to its 16-byte hash only (at
    100 TB that index is itself a table, maintained incrementally); the
    left join keys on the hash, so the shuffle carries |batch| hashes and
    the history index — never document bodies."""
    (dc,) = _t(spark, sf_dir, "documents")
    hist = (
        dc.where(F.col("doc_id") < INCR_BATCH_START)
        .select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("in_hist", F.lit(True))
    )
    batch = dc.where(F.col("doc_id") >= INCR_BATCH_START).select(
        "doc_id", "lang", "source", F.md5("text").alias("h")
    )
    flagged = batch.join(hist, "h", "left").select(
        "lang", "source", F.coalesce("in_hist", F.lit(False)).alias("dup")
    )
    return (
        flagged.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.col("dup").cast("int")).alias("n_dup_of_history"),
            F.sum((~F.col("dup")).cast("int")).alias("n_new"),
        )
        .orderBy("lang", "source")
    )


# ----------------------------------------- LSH candidate-generation scorecard

from feature_datalake_sl_mandic_spark.registry import _REGISTRY as _REG


@register(
    "eval_dedup_lsh_recall",
    oracle=f"""
    WITH truth AS ({_REG["dedup_ngram_jaccard"].oracle}),
    lsh AS ({_REG["dedup_minhash_lsh"].oracle}),
    j AS (
      SELECT coalesce(t.doc_a, l.doc_a) AS doc_a,
             (t.doc_a IS NOT NULL)::INT AS in_truth,
             (l.doc_a IS NOT NULL)::INT AS in_lsh
      FROM truth t
      FULL OUTER JOIN lsh l ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
    )
    SELECT CAST(sum(in_truth) AS BIGINT) AS n_truth,
           CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
           CAST(sum(in_truth * in_lsh) AS BIGINT) AS n_common,
           CASE WHEN sum(in_lsh) > 0 THEN
             round(sum(in_truth * in_lsh) * 1.0 / sum(in_lsh), 4) END
             AS precision_,
           CASE WHEN sum(in_truth) > 0 THEN
             round(sum(in_truth * in_lsh) * 1.0 / sum(in_truth), 4) END
             AS recall_,
           CASE WHEN sum(in_truth) + sum(in_lsh) > 0 THEN
             round(2.0 * sum(in_truth * in_lsh)
                   / (sum(in_truth) + sum(in_lsh)), 4) END AS f1
    FROM j
    """,
    tags=("dedup", "evaluation", "minhash", "lsh", "recall"),
)
def eval_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation scorecard for the MinHash+LSH pipeline: compares
    ``dedup_minhash_lsh``'s verified pairs against the exhaustive
    inverted-index ground truth (``dedup_ngram_jaccard``, uncapped shingles)
    and emits precision / recall / F1 as ONE checked row. LSH's only
    approximation is a true near-dup pair never colliding in any band (and,
    rarely, a DF-capped shingle changing a borderline Jaccard) — this query
    measures exactly that, the dedup analog of ``eval_retrieval_metrics``.
    Tuning k/bands/rows against a sampled ground truth is how the LSH
    parameters earn their values before a 100 TB run; at scale you run this
    on a small stratified sample, never the full corpus.

    Plan: both sub-pipelines already end in small pair relations; the
    scorecard is a full-outer join on the pair key plus one global partial
    aggregation to a single row."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_truth")
    )
    lsh = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_lsh")
    )
    j = truth.join(lsh, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("in_truth"), F.lit(0)).alias("in_truth"),
        F.coalesce(F.col("in_lsh"), F.lit(0)).alias("in_lsh"),
    )
    common = F.sum(F.col("in_truth") * F.col("in_lsh"))
    # a degenerate corpus (every shingle DF-capped away, or no near-dup
    # pairs at all) zeroes a denominator: the ratio is then undefined —
    # NULL on both engines (degenerate-lake audit, round 6)
    return j.agg(
        F.sum("in_truth").cast("bigint").alias("n_truth"),
        F.sum("in_lsh").cast("bigint").alias("n_lsh"),
        common.cast("bigint").alias("n_common"),
        F.when(F.sum("in_lsh") > 0, F.round(common * 1.0 / F.sum("in_lsh"), 4))
        .alias("precision_"),
        F.when(F.sum("in_truth") > 0, F.round(common * 1.0 / F.sum("in_truth"), 4))
        .alias("recall_"),
        F.when(
            F.sum("in_truth") + F.sum("in_lsh") > 0,
            F.round(2.0 * common / (F.sum("in_truth") + F.sum("in_lsh")), 4),
        ).alias("f1"),
    )


# ------------------------------------- incremental MinHash index maintenance

INCR_MINHASH_BATCH_MIN = 400  # same batch boundary as dedup_incremental_batch


@register(
    "dedup_incremental_minhash",
    oracle=_duck_minhash_lsh_sql(batch_min=INCR_MINHASH_BATCH_MIN),
    tags=("dedup", "near-dedup", "minhash", "lsh", "incremental"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index maintenance — the daily-pipeline form of
    ``dedup_minhash_lsh``: signatures exist for the whole corpus (in
    production the index side's signatures are STORED, not recomputed), and
    the band join restricts its right side to the newly-arrived batch
    (doc_id >= 400, the same boundary as ``dedup_incremental_batch``). With
    a.doc_id < b.doc_id that admits index x batch and batch x batch
    collisions while generating ZERO index x index pairs — yesterday's
    corpus never re-compares against itself, so daily cost scales with the
    batch, not the archive. The exact-hash incremental op catches identical
    re-sends; this one catches NEAR-duplicates of archived documents."""
    return dedup_minhash_lsh(spark, sf_dir, batch_min=INCR_MINHASH_BATCH_MIN)


# ----------------------------------------- LSH band-tuning S-curve scorecard

_LSH_CONFIGS = [("8x1", 8, 1), ("4x2", 4, 2), ("2x4", 2, 4)]


def _tuning_oracle() -> str:
    mins = ",\n           ".join(f"{_duck_minhash(j)} AS m{j}" for j in range(MINHASH_K))

    def coll(bands: int, rows: int) -> str:
        ors = []
        for b in range(bands):
            ands = " AND ".join(
                f"am{b * rows + r} = bm{b * rows + r}" for r in range(rows)
            )
            ors.append(f"({ands})")
        return " OR ".join(ors)

    stacked = "\n      UNION ALL\n".join(
        f"""      SELECT '{name}' AS config, {bands} AS bands, {rows} AS rows_,
             jaccard, ({coll(bands, rows)}) AS collided
      FROM scored"""
        for name, bands, rows in _LSH_CONFIGS
    )
    return f"""
    WITH shs AS ({_DUCK_SHINGLES}),
    sh0 AS (SELECT doc_id, {md5_int60_sql("s")} AS h FROM shs),
    sh AS MATERIALIZED (
      SELECT doc_id, h FROM sh0
      WHERE h IN (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= {MINHASH_MAX_DF})
    ),
    sig_t AS MATERIALIZED (
      SELECT doc_id, {mins}, count(*) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS MATERIALIZED (
      SELECT i.doc_a, i.doc_b,
             i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter) AS jaccard,
             {", ".join(f"sa.m{j} AS am{j}, sb.m{j} AS bm{j}" for j in range(MINHASH_K))}
      FROM inter i
      JOIN sig_t sa ON i.doc_a = sa.doc_id
      JOIN sig_t sb ON i.doc_b = sb.doc_id
    ),
    stacked AS (
{stacked}
    )
    SELECT config, least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(collided::INT) AS BIGINT) AS n_collided,
           round(sum(collided::INT) * 1.0 / count(*), 4) AS p_empirical,
           round(1 - pow(1 - pow((least(CAST(floor(jaccard * 10) AS BIGINT), 9) + 0.5) / 10,
                                 rows_), bands), 4) AS p_theory
    FROM stacked
    GROUP BY config, bucket, bands, rows_
    ORDER BY config, bucket
    """


@register(
    "eval_lsh_band_tuning",
    oracle=_tuning_oracle(),
    tags=("dedup", "minhash", "lsh", "s-curve", "tuning", "evaluation"),
)
def eval_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve tuning table: for three (bands x rows) splits of the SAME
    8-value MinHash signature — 8x1 (recall-greedy), 4x2 (the production
    choice in ``dedup_minhash_lsh``), 2x4 (precision-greedy) — the
    EMPIRICAL band-collision probability per exact-Jaccard decile of the
    shingle-sharing pairs, next to the textbook curve 1-(1-j^r)^b at the
    bucket midpoint. This is the table that justifies LSH parameters before
    a 100 TB run: the config whose S-curve knee sits at the dedup threshold
    wins, and empirical-vs-theory divergence exposes a broken hash family
    (the md5-derived family here tracks the curve). Pairs sharing zero
    shingles are out of frame — their collision mass is the hash family's
    false-positive floor, provably negligible at 60-bit hashes.

    Scale shape: ONE in-row signature projection serves all three configs
    (banding is a projection over the carried signature, not a recompute);
    ground-truth Jaccard needs a genuine inverted index, so this is the one
    place the per-doc hash arrays (``doc_hash_arrays``, shared with the
    LSH operator) explode back into (doc, h) rows — a narrow explode of the
    pinned arrays, with no signature groupBy and no df-cap window behind
    it; everything after the pair relation is a
    projection + one bounded (config x decile) aggregation. At corpus scale
    you run this on a stratified pair sample — the plan is unchanged."""
    (dc,) = _t(spark, sf_dir, "documents")
    dc.createOrReplaceTempView("documents")
    base = doc_hash_arrays(dc, MINHASH_MAX_DF).localCheckpoint(eager=False)
    sh = base.select("doc_id", F.explode("hs").alias("h"))
    sig = base.select("doc_id", *inrow_signature_cols("hs")).localCheckpoint(
        eager=False  # feeds both pair sides
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{j}").alias(f"am{j}") for j in range(MINHASH_K)],
        F.col("n").alias("na"),
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{j}").alias(f"bm{j}") for j in range(MINHASH_K)],
        F.col("n").alias("nb"),
    )
    scored = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
    )

    def coll(bands: int, rows: int):
        ors = None
        for bb in range(bands):
            ands = None
            for r in range(rows):
                j = bb * rows + r
                eq = F.col(f"am{j}") == F.col(f"bm{j}")
                ands = eq if ands is None else (ands & eq)
            ors = ands if ors is None else (ors | ands)
        return ors

    stacked = scored.select(
        "jaccard",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("config"),
                        F.lit(bands).alias("bands"),
                        F.lit(rows).alias("rows_"),
                        coll(bands, rows).alias("collided"),
                    )
                    for name, bands, rows in _LSH_CONFIGS
                ]
            )
        ).alias("c"),
    ).select(
        "jaccard",
        F.col("c.config").alias("config"),
        F.col("c.bands").alias("bands"),
        F.col("c.rows_").alias("rows_"),
        F.col("c.collided").alias("collided"),
    )
    bucket = F.least(F.floor(F.col("jaccard") * 10).cast("bigint"), F.lit(9))
    mid = (F.col("bucket") + 0.5) / 10
    return (
        stacked.select("config", "bands", "rows_", "collided", bucket.alias("bucket"))
        .groupBy("config", "bands", "rows_", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("collided").cast("int")).alias("n_collided"),
            F.round(
                F.sum(F.col("collided").cast("int")) / F.count(F.lit(1)), 4
            ).alias("p_empirical"),
        )
        .select(
            "config",
            "bucket",
            "n_pairs",
            "n_collided",
            "p_empirical",
            F.round(
                1 - F.pow(1 - F.pow(mid, F.col("rows_")), F.col("bands")), 4
            ).alias("p_theory"),
        )
        .orderBy("config", "bucket")
    )
