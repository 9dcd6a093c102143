"""Tier C deduplication operators over ``documents``: exact, n-gram
Jaccard, MinHash-LSH, SimHash (SURVEY.md §2 Tier C / C1-C2).

Scale design notes (the point of these operators):
- exact dedup: one hash-shuffle on the text digest — never on the full
  text bytes (digest first, 16 bytes/row instead of KBs/row).
- n-gram Jaccard: gram-explode + equi-join on the gram — candidate
  generation is a shuffle on gram keys, quadratic only within a gram's
  posting list (bounded by dropping ultra-common grams).
- MinHash-LSH: signatures via one explode + groupBy-min (map-side
  partial min), banding join on (band, band-hash) keys; exact Jaccard
  verification only on LSH candidates. This is the standard linear-ish
  pipeline that replaces the O(n^2) all-pairs scan at corpus scale.
- SimHash: 64-bit signature from word hashes, one pass; near-dup pairs
  via b-bit band join on signature chunks (hamming <= k search).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import MINHASH_PRIME, md5_hash60, word_ngrams, words
from .registry import query, t

N_PERM = 32  # minhash permutations
# 16 bands x 2 rows: recall at the verify threshold (jaccard 0.5) is
# 1-(1-0.5^2)^16 ≈ 0.99 (8x4 gave ≈ 0.40 — a coin flip at the
# boundary); random low-jaccard pairs still collide with ~j^2 per
# band, so the candidate set stays near-linear
N_BANDS = 16
_BAND_ROWS = N_PERM // N_BANDS
_rng = random.Random(7)
_PERM_A = [_rng.randrange(1, MINHASH_PRIME) for _ in range(N_PERM)]
_PERM_B = [_rng.randrange(0, MINHASH_PRIME) for _ in range(N_PERM)]

# DuckDB twin of functions.md5_hash60 (value-identical, see its docstring)
_SQL_HASH60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
# DuckDB twin of _grams_df: doc_id + exploded distinct word-3-grams,
# same tokenizer as the c04 oracle
_SQL_GRAMS = """
      SELECT doc_id,
             UNNEST(LIST_DISTINCT([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      for i in RANGE(1, GREATEST(LEN(ws) - 1, 1))])) AS gram
      FROM (SELECT doc_id, STR_SPLIT(LOWER(text), ' ') AS ws FROM documents)
      WHERE LEN(ws) >= 3
"""


@query(
    "c01_dedup_exact",
    memo_plan=True,  # pure constructor: prepared-plan memo (r16)
    oracle="""
    SELECT MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies,
           MD5(text) AS text_digest
    FROM documents
    GROUP BY text
    HAVING COUNT(*) > 1
    """,
)
def c01_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: group on md5(text) (16-byte shuffle key, not the
    full text), keep min doc_id. Duplicate-cluster report."""
    d = t(spark, sf, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_digest"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select("keeper_doc_id", "n_copies", "text_digest")
    )


# Spark-SQL twin of functions.word_ngrams(ws, 3) — kept textually next
# to its consumer so a change to either is a one-screen review; the
# DuckDB oracle (_C04_ORACLE / _sig_sql) pins both to the same values
# through the hash gate.
_NGRAM3_SQL = (
    "CASE WHEN size(ws) >= 3 THEN array_distinct(transform("
    "sequence(0, size(ws) - 3), i -> concat_ws(' ', "
    "element_at(ws, cast(i + 1 AS int)), "
    "element_at(ws, cast(i + 2 AS int)), "
    "element_at(ws, cast(i + 3 AS int))))) "
    "ELSE cast(array() AS array<string>) END"
)


def _grams_df(spark: SparkSession, sf: str) -> DataFrame:
    """doc_id + exploded distinct word-3-grams.

    The testdata ships one parquet file per table -> one input split ->
    one core would do all shingling; repartition by doc_id first so the
    expensive per-row gram expression runs at full parallelism (at
    100 TB the input has thousands of splits and this is a no-op cost).
    """
    d = t(spark, sf, "documents")
    par = spark.sparkContext.defaultParallelism
    # one parameterized-SQL call (parsed and analyzed JVM-side) instead
    # of per-Column py4j round trips — the plan is the same as the
    # DataFrame chain it replaces: repartition BEFORE tokenize (full
    # shingling parallelism from a single-split input), ws projected
    # behind its own alias (the ws-projection barrier; see word_ngrams)
    return spark.sql(
        f"""
        SELECT doc_id, explode({_NGRAM3_SQL}) AS gram
        FROM (SELECT doc_id, split(lower(text), ' ') AS ws
              FROM (SELECT /*+ REPARTITION({par}, doc_id) */ doc_id, text
                    FROM {{d}}))
        """,
        d=d,
    )


# c04/c18's gram source (r16): the pair pipeline never needs gram TEXT,
# so the 3-gram is hashed DIRECTLY from the word triple
# (xxhash64(w1, w2, w3) — field-chained, no concat, no per-gram string
# allocation) and the per-doc distinct runs over longs. ~12% off the
# c04 wall at sf0.1 (tokenize was 0.31 s of string churn), value-
# identical results (collision caveat as in _jaccard_pairs). c02 keeps
# _grams_df: its minhash replays md5(gram-text) bit-for-bit in DuckDB.
_NGRAM3_HASH_SQL = (
    "CASE WHEN size(ws) >= 3 THEN array_distinct(transform("
    "sequence(0, size(ws) - 3), i -> xxhash64("
    "element_at(ws, cast(i + 1 AS int)), "
    "element_at(ws, cast(i + 2 AS int)), "
    "element_at(ws, cast(i + 3 AS int))))) "
    "ELSE cast(array() AS array<bigint>) END"
)


def _gram_digests_df(spark: SparkSession, sf: str) -> DataFrame:
    """doc_id + exploded distinct word-3-gram DIGESTS (bigint)."""
    d = t(spark, sf, "documents")
    par = spark.sparkContext.defaultParallelism
    return spark.sql(
        f"""
        SELECT doc_id, explode({_NGRAM3_HASH_SQL}) AS g
        FROM (SELECT doc_id, split(lower(text), ' ') AS ws
              FROM (SELECT /*+ REPARTITION({par}, doc_id) */ doc_id, text
                    FROM {{d}}))
        """,
        d=d,
    )


# shared by c04 (the pair query) and c18 (cluster resolution over the
# same pairs)
# Posting-list guard (r12): a gram shared by K documents joins into
# K^2 pair rows, so ONE ubiquitous shingle makes the exact pair join
# quadratic in corpus size — measured live when the 10x-replicated
# sf1 corpus took max gram DF from 25 to 250 and the pair work from
# 2.8M to 279M rows (an 8 GB-heap OOM). Grams above the cap are
# boilerplate (every near-dup pipeline drops ultra-common shingles —
# they carry no pair-discrimination signal); Jaccard is computed over
# the KEPT gram sets on both engines, so the oracle agreement is
# exact by construction. At the driver-gate scales the cap is
# inactive (sf0.1 max DF = 25 < 128), so gate hashes are identical to
# the uncapped semantics; at sf1+ it is the difference between
# linear-in-corpus pair work and a quadratic blowup.
C04_MAX_GRAM_DF = 128

# at most one live c04 gram cache, keyed by (session, sf dir)
# (see _jaccard_pairs)
_LIVE_GRAM_CACHE: "list[tuple[SparkSession, str, DataFrame]]" = []


def _release_gram_cache() -> None:
    while _LIVE_GRAM_CACHE:
        try:
            _LIVE_GRAM_CACHE.pop()[2].unpersist()
        except Exception:  # noqa: BLE001
            pass  # the owning session was stopped: nothing to release


# Per-query persisted-intermediate ownership (r16 optimization round):
# each invocation EVICTS the previous invocation's entries BEFORE
# persisting its own, so CacheManager can never serve one bench pass
# from a cache a previous pass built (identical logical plans would
# otherwise dedupe onto the still-live entry and the measured pass
# would skip the work). Bounded: at most one generation per query key.
_QUERY_CACHES: dict[str, list[DataFrame]] = {}


def _evict_query_caches(key: str) -> None:
    for old in _QUERY_CACHES.pop(key, []):
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001
            pass  # the owning session was stopped: nothing to release


def _register_query_caches(key: str, *dfs: DataFrame) -> None:
    _QUERY_CACHES[key] = list(dfs)

_C04_ORACLE = f"""
    WITH g AS (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      for i in RANGE(1, GREATEST(LEN(ws) - 1, 1))])) AS gram
      FROM (SELECT doc_id, STR_SPLIT(LOWER(text), ' ') AS ws FROM documents)
      WHERE LEN(ws) >= 3
    ),
    hot AS (
      SELECT gram FROM g GROUP BY gram
      HAVING COUNT(*) > {C04_MAX_GRAM_DF}
    ),
    k AS (SELECT g.* FROM g ANTI JOIN hot USING (gram)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM k GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS both
      FROM k a JOIN k b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b,
           ROUND(CAST(s.both AS DOUBLE) / (sa.n + sb.n - s.both), 6) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE CAST(s.both AS DOUBLE) / (sa.n + sb.n - s.both) >= 0.2
    """


@query("c04_dedup_ngram_jaccard", oracle=_C04_ORACLE)
def c04_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.2): explode
    word-3-grams, count shared grams per document pair, Jaccard =
    |A∩B| / (|A|+|B|-|A∩B|). Deterministic and SQL-expressible — the
    exactness oracle for the MinHash approximation (c02).

    r16 optimization-round restructure (guide §2.3/§3.3): grams are
    digested to 64-bit longs at the explode (xxhash64 — shuffle keys,
    never gram text), folded once into per-gram POSTING LISTS, and the
    pair stream is generated as only the doc_a < doc_b combinations
    via codegen'd Generate nodes — the old gram self-join emitted
    sum(df^2) rows and filtered half away AFTER the join (an exploding
    join, guide §3.3); the posting form emits exactly sum(df*(df-1)/2).
    Cache lifecycle: the posting table is persisted per INVOCATION
    (it feeds both the pair explode and the per-doc sizes) and the
    previous invocation's cache is always evicted first — every bench
    pass recomputes from the parquet input; nothing is served across
    passes (this round's no-cross-run-caching rule; the r12-r15 bench
    numbers were drawn with a cross-pass gram cache)."""
    pairs, _g = _jaccard_pairs(spark, sf)
    return pairs


def _jaccard_pairs(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """(pair DataFrame, the persisted posting DataFrame backing it).
    Callers that materialize the pairs into their own storage (c18's
    localCheckpoint) unpersist the postings immediately; c04 returns
    the lazy plan, so its cache must outlive the call — bounded by the
    one-live-cache holder (at most ONE posting cache per session, the
    previous invocation's evicted whenever a new one builds — which is
    ALSO what keeps bench passes honest: a pass never consumes a cache
    a previous pass built).

    Shape: one exchange by gram digest folds postings + applies the
    C04_MAX_GRAM_DF guard (one hot gram otherwise makes pair work
    quadratic in corpus size — measured 2.8M -> 279M pair rows when a
    10x-replicated corpus took max DF from 25 to 250, r12); sizes and
    the a<b pair stream both read the persisted posting table, so the
    corpus is tokenized once per invocation. Jaccard is over the kept
    gram sets on both engines (the oracle's ANTI JOIN form is
    value-identical; engines pick their own physical guard). The
    64-bit digest keeps pair counts exact unless two distinct grams in
    overlapping documents collide (~n^2/2^65: ~5e-9 at the sf0.1 gate's
    ~4e5 distinct grams, ~7e-7 at an sf10 decade — and any collision
    at a gated scale would fail the value gate loudly)."""
    # always rebuild: evicting first means CacheManager cannot serve
    # the identical plan from the previous invocation's entry
    _release_gram_cache()
    posts = (
        _gram_digests_df(spark, sf)
        .groupBy("g")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") <= C04_MAX_GRAM_DF)
        .persist()
    )
    _LIVE_GRAM_CACHE.append((spark, sf, posts))
    sizes = (
        posts.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # ascending posting lists -> (element i, every later element) is
    # exactly the doc_a < doc_b pair set; posexplode + slice are plain
    # Generate/expression nodes (whole-stage codegen), no join
    pair_gen = (
        posts.filter(F.size("ds") >= 2)
        .select(F.posexplode("ds").alias("i", "doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(
                F.slice("ds", F.col("i") + 2, F.size("ds"))
            ).alias("doc_b"),
        )
    )
    from ..session import heavy_input  # noqa: PLC0415

    if heavy_input():
        # r17 (guide §2.5/§5): the pair stream is near-unique on
        # (doc_a, doc_b) — measured at sf1: 85.2M generated rows,
        # 71.5M distinct pairs (multiplicity 1.19) — so the partial
        # aggregation reduces almost nothing while its per-task hash
        # maps (2.2M+ keys on a cores-sized reducer count) overflow
        # execution memory and spill. Repartitioning the RAW pair rows
        # to 4x cores first gives each aggregation task a map that
        # fits (measured 8.1 -> 5.6 s on this stage at sf1); the
        # explicit count keeps AQE from coalescing it back. Gate-scale
        # inputs skip it: their pair volume is small enough that the
        # extra exchange is pure overhead (same heavy_input basis as
        # c02's ds persist). Values identical either way.
        pair_gen = pair_gen.repartition(
            4 * spark.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
    shared = pair_gen.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("both")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("both").cast("double") / (
        F.col("na") + F.col("nb") - F.col("both")
    )
    # sizes is per-doc (NOT broadcastable at corpus scale) — AQE picks
    # the strategy; at sf0.1 it broadcasts on its own
    pairs = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
    return pairs, posts


def minhash_signatures(grams: DataFrame) -> DataFrame:
    """doc_id -> 32-permutation minhash signature. One explode is
    already done; the N_PERM mins fold into a single groupBy with
    map-side partial aggregation — one shuffle of 32 longs per doc."""
    # deterministic, DuckDB-replayable gram hash folded into [0, p):
    # md5_hash60 is non-negative so a*h stays within int64 (a, h < 2^31).
    # The 32 permutation mins are built as parsed expression strings —
    # one py4j round trip each instead of ~6 Column-operator calls each
    # (measured 0.21 s -> ~0.03 s of per-query plan construction,
    # tools/floor_profile.py r8, retired at 87d85a9); the projected `h`
    # alias keeps the md5 hash evaluated once per gram, not once per
    # permutation.
    h = md5_hash60("gram") % MINHASH_PRIME
    pre = grams.select("doc_id", h.alias("h"))
    return pre.groupBy("doc_id").agg(*_minhash_mins())


def _minhash_mins() -> list:
    """The N_PERM permutation-min aggregate expressions over a
    projected ``h`` column (shared by minhash_signatures and c02's
    pre-digested gram table)."""
    return [
        F.expr(
            f"min(({_PERM_A[i]} * h + {_PERM_B[i]}) % {MINHASH_PRIME})"
            f" AS s{i}"
        )
        for i in range(N_PERM)
    ]


def _sig_sql() -> str:
    """DuckDB CTE body reproducing ``minhash_signatures`` bit-for-bit
    (shared by the c02 and c02b oracles)."""
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
    )
    return f"""
    g AS ({_SQL_GRAMS}),
    h AS (
      SELECT doc_id,
             {_SQL_HASH60.format(x="gram")} % {MINHASH_PRIME} AS h
      FROM g
    ),
    sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id)
    """


@query(
    "c02_dedup_minhash_lsh",
    # end-to-end replay: signatures (md5 hash + fixed permutations),
    # banding on the RAW 2-row band values (no engine-internal band
    # hash), candidate dedup, exact-Jaccard verify at >= 0.5 — every
    # stage deterministic, so the full LSH pipeline hash-gates
    oracle=f"""
    WITH {_sig_sql()},
    stacked AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band_id, s{2 * b} AS r0,"
          f" s{2 * b + 1} AS r1 FROM sig"
          for b in range(N_BANDS)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM stacked a
      JOIN stacked b ON a.band_id = b.band_id AND a.r0 = b.r0
                    AND a.r1 = b.r1 AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    shared AS (
      SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, COUNT(*) AS both
      FROM g ga JOIN g gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
      GROUP BY ga.doc_id, gb.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(s.both AS DOUBLE) / (sa.n + sb.n - s.both), 6)
             AS jaccard
    FROM cand c
    JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(s.both AS DOUBLE) / (sa.n + sb.n - s.both) >= 0.5
    """,
)
def c02_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs, exact-Jaccard verified.

    shingle -> 32-perm minhash -> 16 bands x 2 rows -> band-bucket
    equi-join -> distinct candidate pairs -> verify with exact Jaccard
    on gram sets (>= 0.5). Hash-gated: banding joins on the RAW band
    row values (engine-portable — no Spark-internal band hash), so the
    DuckDB oracle replays candidates and verified pairs exactly; the
    pytest property test additionally plants known dups and asserts
    recovery + agreement with c04.

    r16 optimization round: the gram table is projected to three LONGS
    (doc_id, h, gd) before anything shuffles — h replays the oracle's
    md5-derived minhash input bit-for-bit, gd (xxhash64) carries gram
    identity for the verify stage's set intersection, whose jaccard
    only needs gram-equality semantics (same collision note as c04's
    postings). Gram TEXT never leaves the tokenize projection. Caches
    (cand, ds — both post-LSH candidate-sized) are per-invocation: the
    previous invocation's entries are evicted at entry, so no bench
    pass is served from a cache an earlier pass built."""
    _evict_query_caches("c02")
    # g is NOT persisted: its two consumers (sig, ds) share the scan +
    # repartition exchange via ReusedExchange, and re-running the
    # explode+hash projection costs less than building and reading a
    # gram-sized cache (A/B'd at sf0.1 and sf1, r16)
    g = _grams_df(spark, sf).select(
        "doc_id",
        (md5_hash60("gram") % MINHASH_PRIME).alias("h"),
        F.xxhash64("gram").alias("gd"),
    )
    sig = g.groupBy("doc_id").agg(*_minhash_mins())
    # band array as one parsed expression (1 py4j round trip vs ~100
    # Column-operator calls for 16 x 3-field structs)
    bands = ", ".join(
        f"struct({b} AS band_id, s{b * _BAND_ROWS} AS r0,"
        f" s{b * _BAND_ROWS + 1} AS r1)"
        for b in range(N_BANDS)
    )
    stacked = sig.selectExpr(
        "doc_id", f"explode(array({bands})) AS bk"
    ).select("doc_id", "bk.band_id", "bk.r0", "bk.r1")
    # persist: cand feeds BOTH the candidate-doc semi-join filter and
    # the final broadcast join — without it the whole LSH pipeline
    # (signatures + band fold + pair generation) executes twice. cand
    # is post-LSH small (pairs, not corpus), so the cache is bounded.
    # (A full-SQL formulation of this pipeline was tried and reverted:
    # {df} parameter references defeat CacheManager substitution and
    # re-registering temp views uncaches dependents, so the persisted
    # intermediates stopped serving — the DataFrame chain keeps them.)
    # r16: band-bucket members are folded into sorted posting lists and
    # the a<b pairs generated by codegen'd posexplode+slice — the old
    # band SELF-JOIN emitted k^2 rows per bucket and filtered half
    # away after the join (guide §3.3 exploding join; same restructure
    # as c04's gram postings). One shuffle of the 16x|docs| band rows
    # instead of two join arms; the candidate SET is identical.
    cand = (
        stacked.groupBy("band_id", "r0", "r1")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.posexplode("ds").alias("i", "doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(
                F.slice("ds", F.col("i") + 2, F.size("ds"))
            ).alias("doc_b"),
        )
        .distinct()
        .persist()
    )
    # exact verification restricted to candidates. Order matters at
    # scale: semi-join the exploded grams to the candidate doc-id set
    # BEFORE the collect_set aggregation, so only candidate docs' gram
    # arrays are folded and shuffled (candidate-sized, post-LSH small
    # by construction) — never the whole corpus's. Both join sides are
    # filtered the same way; the earlier form broadcast-filtered only
    # the doc_a side and shuffled every doc's gram array for doc_b.
    # NO forced broadcast hints anywhere below: an explicit
    # F.broadcast() is never demoted by AQE, and on a duplicate-heavy
    # corpus the candidate set is pair-shaped, not corpus-shaped —
    # clusters of k near-dups contribute k*(k-1)/2 pairs, which
    # overran the driver at a 10x replication scale. AQE broadcasts
    # on its own whenever the set really is small (the common case).
    # no .distinct() on the semi-join source (r16): LeftSemi only asks
    # "does a match exist" and the broadcast build side dedupes keys as
    # it builds the hash relation, so the distinct bought nothing but
    # its own exchange; the union stays bounded at 2x|cand| rows
    cand_docs = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    # persisted for the same reason: ds is both join sides below, and
    # it is candidate-sized (only docs that survived LSH banding)
    # ds persist is INPUT-SCALED (session.heavy_input): at sf1 the
    # cache wins 1.5x end-to-end (4.5 s vs 7.0 s full pass — without
    # it the semi-join + collect_set fold runs once per join arm), but
    # at gate scale the persist/evict bookkeeping costs more than the
    # recompute (1.06 s vs 1.25 s full pass). Values identical either
    # way; this is the guide's scale-parameterised-config rule applied
    # to a memory-for-recompute trade.
    ds = (
        g.join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("gd").alias("grams"))
    )
    from ..session import heavy_input  # noqa: PLC0415

    owned = [cand]
    if heavy_input():
        ds = ds.persist()
        owned.append(ds)
    a = ds.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = ds.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    jac = inter.cast("double") / (
        F.size("ga") + F.size("gb") - inter
    )
    _register_query_caches("c02", *owned)
    return (
        a.join(cand, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


SIMHASH_BITS = 60  # md5_hash60 width; 4 chunks x 15 bits
_SIMHASH_CHUNK_BITS = SIMHASH_BITS // 4


@query(
    "c03_dedup_simhash",
    # full bit-for-bit replay: same word stream, same md5-derived
    # 60-bit hash, same sign-of-sums signature, same 15-bit chunk
    # banding and popcount verify — deterministic, so hash-gated
    oracle=f"""
    WITH w AS (
      SELECT doc_id, UNNEST(STR_SPLIT(LOWER(text), ' ')) AS word
      FROM documents
    ),
    h AS (SELECT doc_id, {_SQL_HASH60.format(x="word")} AS h FROM w),
    bits AS (
      SELECT doc_id,
             {", ".join(
                 f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)"
                 f" AS b{i}"
                 for i in range(60)
             )}
      FROM h GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
             ({" + ".join(
                 f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i})"
                 f" ELSE 0 END)"
                 for i in range(60)
             )}) AS simhash
      FROM bits
    ),
    chunks AS (
      SELECT doc_id, simhash, c.chunk_id,
             (simhash >> (c.chunk_id * 15)) & 32767 AS chunk
      FROM sig, (SELECT UNNEST([0, 1, 2, 3]) AS chunk_id) c
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM chunks a
    JOIN chunks b
      ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def c03_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit signature = sign of per-bit sums
    of word hashes (md5_hash60 — engine-portable, see functions);
    candidates share one of four 15-bit chunks (hamming <= 3
    within-chunk guarantee by pigeonhole over 4 chunks), verified by
    exact popcount of the XOR. Hash-gated: the DuckDB oracle replays
    the signature arithmetic bit-for-bit.

    r17 (guide §3.3, the restructure proven on c02/c04): the
    (chunk_id, chunk) SELF-JOIN emitted k^2 rows per band bucket and
    filtered half after the join; bucket members now fold into one
    doc_id-sorted posting list and the doc_a < doc_b pair stream is
    generated by codegen'd posexplode+slice — exactly k(k-1)/2 rows,
    no join build, one exchange of the 4x|docs| chunk rows instead of
    two join arms. Hamming is computed and thresholded in the pair
    stream before the cross-chunk distinct. Same candidate set, same
    popcount, same values."""
    d = t(spark, sf, "documents")
    w = d.select("doc_id", F.explode(words("text")).alias("word"))
    h = md5_hash60("word")
    # per-bit +/-1 sums -> sign bit; build the signature as bigint
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    sums = w.groupBy("doc_id").agg(*bit_sums)
    sig = sums.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"b{i}") > 0,
                    F.shiftleft(F.lit(1).cast("bigint"), i),
                ).otherwise(F.lit(0).cast("bigint"))
                for i in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("bigint"),
        ).alias("simhash"),
    )
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned("simhash", c * _SIMHASH_CHUNK_BITS)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk_id", "ck.chunk")
    # doc_id is unique and leads the struct, so array_sort orders by it
    # and the slice-generated pairs are exactly doc_a < doc_b
    posts = (
        chunks.groupBy("chunk_id", "chunk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    pairs = posts.select(F.posexplode("ms").alias("i", "a"), "ms").select(
        "a",
        F.explode(F.slice("ms", F.col("i") + 2, F.size("ms"))).alias("b"),
    )
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


@query(
    "c02b_minhash_signatures",
    # full bit-for-bit signature replay: same grams, same md5-derived
    # hash, same 32 fixed (a, b) permutation constants — the signature
    # table is deterministic, so it hash-gates like any relational op
    oracle=f"""
    WITH g AS ({_SQL_GRAMS}),
    h AS (
      SELECT doc_id,
             {_SQL_HASH60.format(x="gram")} % {MINHASH_PRIME} AS h
      FROM g
    )
    SELECT doc_id,
           {", ".join(
               f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS s{i}"
               for i, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
           )}
    FROM h GROUP BY doc_id
    """,
)
def c02b_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """The minhash signature table as a first-class output (join target
    for incremental dedup against an existing corpus). Hash-gated: the
    oracle replays the exact signature arithmetic in DuckDB (md5-based
    gram hash + the module's fixed permutation constants)."""
    return minhash_signatures(_grams_df(spark, sf))


@query(
    "c18_dedup_cluster_resolution",
    # transitive closure over the symmetric pair graph; cluster id =
    # min doc_id reachable (incl. self), keeper = the min member
    oracle=f"""
    WITH RECURSIVE
    pairs AS ({_C04_ORACLE}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id,
           LEAST(src, MIN(dst)) AS cluster_id,
           CASE WHEN LEAST(src, MIN(dst)) = src THEN 1 ELSE 0 END AS keep
    FROM reach GROUP BY src
    """,
)
def c18_dedup_cluster_resolution(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup **cluster resolution**: pairs are not enough for a
    training pipeline — A~B and B~C must collapse to ONE kept document.
    Connected components over the c04 pair graph via iterative min-label
    propagation: each round every node takes the min cluster id among
    itself and its neighbors; converges in O(cluster diameter) rounds
    (dup clusters are shallow). Output: (doc_id, cluster_id = min doc in
    component, keep = 1 for the canonical member).

    Scale posture: every round is one join + one aggregation over the
    *pair* set (candidate-pair-sized, not corpus-sized); lineage is cut
    per round with localCheckpoint so the plan stays flat; convergence
    is detected with a scalar count (no driver data transfer). This is
    the GraphFrames/Pregel pattern expressed in plain DataFrame ops."""
    pairs, grams = _jaccard_pairs(spark, sf)
    pairs = pairs.select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select("doc_b", "doc_a"))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    # edges are materialized — release the gram cache (through the
    # holder, so the registry agrees the session holds none) instead
    # of pinning it for the session life
    del grams
    _release_gram_cache()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cid", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(64):  # cap >> any plausible dup-chain diameter
        nbr = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cid").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cid"), F.coalesce("nbr_min", F.col("cid"))
                ).alias("cid"),
                F.col("cid").alias("old_cid"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter("cid != old_cid").limit(1).count()
        labels = new_labels.select("doc_id", "cid")
        if changed == 0:
            converged = True
            break
    if not converged:
        # unconverged labels are silently WRONG (one component, many
        # cluster ids) — fail loudly rather than emit them
        raise RuntimeError(
            "cluster resolution did not converge within 64 rounds "
            "(pathological pair-graph diameter)"
        )
    return labels.select(
        "doc_id",
        F.col("cid").alias("cluster_id"),
        (F.col("doc_id") == F.col("cid")).cast("int").alias("keep"),
    )


@query(
    "c21_dedup_keeper_selection",
    # c18's recursive-closure members + a QUALITY keeper policy
    oracle=f"""
    WITH RECURSIVE
    pairs AS ({_C04_ORACLE}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    members AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    sel AS (
      SELECT m.cluster_id, m.doc_id, d.n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY m.cluster_id
               ORDER BY d.n_chars DESC, m.doc_id) AS rk
      FROM members m JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           MAX(CASE WHEN rk = 1 THEN doc_id END) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM sel GROUP BY cluster_id
    """,
)
def c21_dedup_keeper_selection(spark: SparkSession, sf: str) -> DataFrame:
    """Policy-driven keeper selection over near-dup clusters: c18's
    min-label components pick WHICH rows are duplicates; a training
    pipeline then decides WHAT to keep — here the longest document
    (n_chars desc, doc_id tiebreak), the usual keep-the-richest-copy
    policy. One window over the cluster assignment joined to the
    corpus (cluster-sized, not corpus-sized) + one aggregate; the
    policy is a pure ORDER BY swap (quality score, recency, source
    priority all drop in). Output: one row per cluster with its
    keeper and membership stats."""
    from pyspark.sql import Window  # noqa: PLC0415

    members = c18_dedup_cluster_resolution(spark, sf).select(
        "doc_id", "cluster_id"
    )
    d = t(spark, sf, "documents").select("doc_id", "n_chars")
    sel = members.join(d, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("n_chars").desc(), F.col("doc_id")
            )
        ),
    )
    return sel.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
            "keeper_doc_id"
        ),
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "c29_incremental_ingest_dedup",
    # the oracle replays the whole episode relationally: batch1 is the
    # seed corpus; batch2 survivors are rows whose text digest appears
    # neither in batch1 nor earlier (min doc_id) within batch2 itself;
    # the final corpus is their union. delta_rows pins the CDC read:
    # changes_between(s1, s2) must return exactly the appended
    # survivors, no more, no less.
    oracle="""
    WITH batch1 AS (
      SELECT doc_id, source, text FROM documents WHERE doc_id <= 300
    ),
    batch2 AS (
      SELECT doc_id, source, text FROM documents
      WHERE doc_id > 200 AND doc_id <= 500
    ),
    survivors AS (
      SELECT b2.doc_id, b2.source FROM batch2 b2
      WHERE NOT EXISTS (SELECT 1 FROM batch1 b1
                        WHERE MD5(b1.text) = MD5(b2.text))
        AND b2.doc_id = (SELECT MIN(b2b.doc_id) FROM batch2 b2b
                         WHERE MD5(b2b.text) = MD5(b2.text))
    ),
    corpus AS (
      SELECT doc_id, source FROM batch1
      UNION ALL SELECT doc_id, source FROM survivors
    )
    SELECT source, COUNT(*) AS n,
           (SELECT COUNT(*) FROM survivors) AS delta_rows
    FROM corpus GROUP BY source
    """,
)
def c29_incremental_ingest_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental corpus ingestion with cross-snapshot dedup — the
    production shape of exact dedup (c01) once a corpus lives in a
    lake table and grows by batches: new documents are admitted only
    if their content digest is unseen in the CURRENT corpus snapshot
    AND they are the first copy within their own batch; the survivors
    are appended as a new snapshot, and downstream consumers pick up
    exactly that delta via the CDC read (changes_between — Iceberg's
    appendsBetween). Composes the lake layer with the dedup family:

    - digest anti-join: 16-byte md5 keys shuffle, never text — the
      corpus side at 100 TB is a digest projection of the table scan
      (a covering digest column or manifest-level bloom skip both slot
      in here; the join itself is the scale path either way).
    - within-batch keep-first: digest-keyed min, batch-sized.
    - CDC: incremental cost proportional to the DELTA, never the
      corpus (the snapshot directories of the range are the only
      input — table_format.changes_between).

    The hashed output carries the final per-source corpus counts plus
    the CDC row count, so a wrong admit, a lost append, or a fat delta
    all flip the gate."""
    import tempfile  # noqa: PLC0415

    from pyspark.sql.window import Window  # noqa: PLC0415

    from ..table_format import LakeCatalog  # noqa: PLC0415

    d = t(spark, sf, "documents").select("doc_id", "source", "text")
    b1 = d.filter(F.col("doc_id") <= 300)
    b2 = d.filter((F.col("doc_id") > 200) & (F.col("doc_id") <= 500))
    with tempfile.TemporaryDirectory(prefix="ingest_gate_") as wh:
        table = LakeCatalog(wh).create_table("gate", "corpus", b1.schema)
        s1 = table.append(b1)
        corpus_digests = table.to_df(spark).select(
            F.md5("text").alias("dg")
        )
        fresh = (
            b2.withColumn("dg", F.md5("text"))
            .join(corpus_digests, "dg", "left_anti")
        )
        survivors = (
            fresh.withColumn(
                "keep", F.min("doc_id").over(Window.partitionBy("dg"))
            )
            .filter(F.col("doc_id") == F.col("keep"))
            .select("doc_id", "source", "text")
        )
        s2 = table.append(survivors)
        delta = table.changes_between(
            spark, from_snapshot=s1.snapshot_id, to_snapshot=s2.snapshot_id
        )
        out = (
            table.to_df(spark)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("delta_rows", F.lit(delta.count()))
        )
        # materialize before the temp dir vanishes (bounded agg)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


# two leading hex chars of md5 -> 0..255, portable across engines
# (Spark and DuckDB hash functions differ; md5 hex text is identical)
_HEX = "0123456789abcdef"


@query(
    "c32_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE
    pairs AS ({_C04_ORACLE}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    ck AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS ck
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    ),
    s AS (
      SELECT doc_id, ck,
             CASE WHEN b <= 7 THEN 'train'
                  WHEN b = 8 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id, ck,
              (16 * (INSTR('{_HEX}',
                     SUBSTR(MD5(CAST(ck AS VARCHAR)), 1, 1)) - 1)
               + (INSTR('{_HEX}',
                     SUBSTR(MD5(CAST(ck AS VARCHAR)), 2, 1)) - 1)
              ) % 10 AS b
            FROM ck)
    ),
    integ AS (
      SELECT MAX(cnt) = 1 AS ok FROM (
        SELECT ck, COUNT(DISTINCT split) AS cnt FROM s GROUP BY ck)
    )
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT ck) AS n_clusters,
           (SELECT ok FROM integ) AS no_straddle
    FROM s GROUP BY split
    """,
)
def c32_leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split (the stage after dedup that
    production pipelines get wrong by splitting per-document): the
    split key is the NEAR-DUP CLUSTER (c18's resolution; singletons
    are their own cluster), hashed to a deterministic bucket — so a
    document and its near-duplicates can never straddle train and
    test, the eval-contamination mode document-level random splits
    permit. 80/10/10 by md5 bucket of the cluster id — content-free,
    reproducible across engines/runs/partitionings. The output carries
    a computed ``no_straddle`` integrity flag (max distinct splits
    per cluster == 1), so the guarantee is ASSERTED by the hash gate,
    not assumed. One join + two aggregates beyond the c18 resolution
    it composes."""
    labels = c18_dedup_cluster_resolution(spark, sf).select(
        "doc_id", "cluster_id"
    )
    d = t(spark, sf, "documents").select("doc_id")
    ck = d.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("ck"),
    )
    md5s = F.md5(F.col("ck").cast("string"))
    bucket = (
        (F.instr(F.lit(_HEX), F.substring(md5s, 1, 1)) - 1) * 16
        + (F.instr(F.lit(_HEX), F.substring(md5s, 2, 1)) - 1)
    ) % 10
    s = ck.withColumn(
        "split",
        F.when(bucket <= 7, "train")
        .when(bucket == 8, "val")
        .otherwise("test"),
    )
    integ = (
        s.groupBy("ck")
        .agg(F.countDistinct("split").alias("cnt"))
        .agg((F.max("cnt") == 1).alias("ok"))
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("ck").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(integ))  # one row
        .withColumnRenamed("ok", "no_straddle")
    )
